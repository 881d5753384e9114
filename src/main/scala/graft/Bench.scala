package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

import graft.data.SequenceGen
import graft.metrics.Recorder
import graft.plans.LogPipeline
import graft.util.Scratch

/** Benchmark main (driver contract): prints ONE COMPACT JSON line
  * {"metric":…,"value":…,"unit":"sec","queries":{…},"pipeline":{…},
  *  "scaling":{…},"sf":…}. Full detail (per-stage listener metrics) goes to
  * `bench_detail.json` in the working directory — the stdout line must stay
  * small because the driver captures a bounded tail of the run's output
  * (round 1 shipped `parsed: null` from an oversized line).
  *
  * All bench I/O (synthetic input, routed output, Spark shuffle/local dirs)
  * lives under [[Scratch]], i.e. on tmpfs when available: page-cache
  * writeback from a previous run's ~2 GB parquet output stalls later timed
  * runs at random (±15 s observed), which is measurement noise, not plan
  * quality. tmpfs removes the writeback entirely; `sync` hygiene stays for
  * whatever still lands on disk (logs, sbt state).
  */
object Bench {
  /** Root for everything this bench writes: a [[Scratch]] dir, so it sits on
    * tmpfs when available and goes with the process.
    */
  private val benchRoot: String = Scratch.dir("bench").toString

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$benchRoot/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** N-executor cluster simulation: `local-cluster[workers,cores,mem]` spawns
    * one JVM per executor (own heap/GC), the honest stand-in for a real
    * multi-executor cluster on one box. Executor heap is sized to cover the
    * fan-out write buffers (sinks x concurrent writers x parquet rowgroup) —
    * undersized heaps (3g) measurably GC-thrash the route stage. Executor
    * shuffle dirs follow SPARK_LOCAL_DIRS (build.sbt points it at tmpfs).
    */
  private def clusterSession(workers: Int, cores: Int, memMb: Int): Option[SparkSession] = try {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val jarFile = new java.io.File("target/scala-2.13").listFiles()
      .filter(f => f.getName.endsWith(".jar") && !f.getName.contains("sources"))
      .maxBy(_.lastModified())
    // a stale jar would ship old code to the executor JVMs — refuse it
    val newestClass = {
      def walk(d: java.io.File): Long =
        Option(d.listFiles()).map(_.map(f =>
          if (f.isDirectory) walk(f) else f.lastModified()).foldLeft(0L)(_ max _)).getOrElse(0L)
      walk(new java.io.File("target/scala-2.13/classes"))
    }
    require(jarFile.lastModified() >= newestClass,
      s"app jar ${jarFile.getName} is older than compiled classes — run `sbt package`")
    val jar = jarFile.getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local-cluster[$workers,$cores,$memMb]")
      .appName(s"graft-scale-$workers")
      .config("spark.sql.shuffle.partitions", (workers * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // one box: every block is node-local, so the default 3 s locality
      // wait is pure scheduler idle between waves — worst for the wide
      // configuration, which has the most waves
      .config("spark.locality.wait", "0")
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.local.dir", s"$benchRoot/spark-local")
      .config("spark.jars", jar)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Some(s)
  } catch { case e: Throwable =>
    System.err.println(s"[bench] local-cluster unavailable (${e.getMessage}); " +
      "falling back to local[n] threads for the scaling runs")
    None
  }

  /** The stderr suffix of a scaling warm-up or rep: its failed tasks and
    * lost executors, exact because [[Recorder.observe]] drains the bus. An
    * executor dying mid-rep silently inflates the wall (tasks re-run); the
    * line attributes it instead of letting a stray stack trace open the log
    * tail unexplained (r2 verdict #4).
    */
  private def failures(r: Recorder): String =
    if (r.failedTasks + r.executorsLost == 0) ""
    else s" [task_failures=${r.failedTasks} executors_lost=${r.executorsLost}]"

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Pure-CPU LCG throughput (Mops/s) at `threads` threads over a 1.5 s
    * window. The per-thread loop is memory-free, so the number measures
    * *available CPU*, not the JVM or the plan — co-tenant load and steal
    * time show up directly as a lower count.
    */
  private def cpuMops(threads: Int): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val counts = new java.util.concurrent.atomic.AtomicLongArray(threads)
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        var x = 1234567L + i
        var c = 0L
        while (!stop.get()) {
          var k = 0
          while (k < 1000) {
            x = x * 6364136223846793005L + 1442695040888963407L
            k += 1
          }
          c += 1000
        }
        counts.set(i, c + (x & 1)) // fold x in so the loop can't be DCE'd
      })
    }
    ts.foreach(_.start()); Thread.sleep(1500); stop.set(true); ts.foreach(_.join())
    (0 until threads).map(counts.get).sum / 1.5e6
  }

  /** One host-state sample: absolute single-thread and 32-thread Mops/s plus
    * the 16t/4t speedup ratio, and the degraded verdict against floors set
    * at ~70% of this box's measured-idle values (2026-08-17, load 0.07:
    * 1t 655-690, 32t 19.3-21k, x4 3.9-4.1). The r4 host crisis — 8-12
    * effective cores of 32 — would have read 32t ≈ 5-8k and x4 ≈ 2.3-3.3,
    * far below all three floors, so the gate separates cleanly. The RATIO
    * alone can't prove absolute capacity (a uniformly-halved box still
    * scales 4x); the absolutes close that hole (r4 verdict #1).
    */
  private final case class HostCal(mops1: Double, mops32: Double, x4: Double) {
    def degraded: Boolean = Runtime.getRuntime.availableProcessors < FloorCpus ||
      mops1 < 450 || mops32 < 13500 || x4 < 3.5
    def json: String = f""""mops_1t":$mops1%.0f,"mops_32t":$mops32%.0f,"cpu_x4":$x4%.2f,"degraded":$degraded"""
  }

  /** Processors of the host the [[HostCal]] floors were measured on. A host
    * with fewer fails them for good: it is degraded from the start, and
    * waiting for a clean window there only idles.
    */
  private val FloorCpus = 32

  private def calibrate(): HostCal = {
    cpuMops(4) // JIT warmup for the loop body
    HostCal(cpuMops(1), cpuMops(32), cpuMops(16) / math.max(cpuMops(4), 1e-9))
  }

  /** Calibrate, retrying while the host looks degraded: a transient load
    * spike should delay the bench, not poison the artifact of record. After
    * `retries` failed attempts the run proceeds with `degraded=true` so the
    * JSON itself carries the evidence (r4's official artifact failed its
    * band with only a ratio to explain why).
    */
  private def calibrateGated(retries: Int, sleepMs: Long): HostCal = {
    var cal = calibrate()
    var left = if (Runtime.getRuntime.availableProcessors < FloorCpus) 0 else retries
    while (cal.degraded && left > 0) {
      System.err.println(f"[bench] host degraded (1t ${cal.mops1}%.0f, 32t ${cal.mops32}%.0f, x4 ${cal.x4}%.2f) — waiting ${sleepMs / 1000}s for a clean window (${left} retries left)")
      Thread.sleep(sleepMs)
      cal = calibrate()
      left -= 1
    }
    System.err.println(f"[bench] host calibration: 1t ${cal.mops1}%.0f Mops, 32t ${cal.mops32}%.0f Mops, x4 ${cal.x4}%.2f, degraded=${cal.degraded}")
    cal
  }

  /** Lowest scaling-phase throughput (rows/s) a window may run at before
    * its deadline stops it: ~1/10 of a 4-core executor's, so only a stall
    * reaches it.
    */
  private val MinScaleRowsPerSec = 20000L

  /** Bytes per staged scaling-input row: 1M `SequenceGen` rows in 64 files
    * stage as 32.5 MB of parquet (measured; 250k rows in 16 files alike).
    */
  private val StagedBytesPerRow = 33L

  /** Why a `local-cluster[workers,cores,memMb]` does not fit the host, or
    * None. Cores: the executors' against the available processors. Memory:
    * the executor heaps, the driver's max heap and the staged input's tmpfs
    * bytes against the lower of MemTotal and the cgroup's `memory.max`
    * (each unchecked when unknown).
    */
  private[graft] def misfit(workers: Int, cores: Int, memMb: Int, procs: Int,
      driverMb: Long, tmpfsMb: Long, memTotalMb: Option[Long],
      cgroupMb: Option[Long]): Option[String] = {
    val cluster = s"local-cluster[$workers,$cores,$memMb]"
    val execMb = workers.toLong * memMb
    val needMb = execMb + driverMb + tmpfsMb
    if (workers * cores > procs)
      Some(s"$cluster needs ${workers * cores} cores, the host has $procs")
    else (memTotalMb.map((_, "MemTotal")) ++ cgroupMb.map((_, "cgroup memory.max")))
      .minByOption(_._1).collect { case (limitMb, what) if needMb > limitMb =>
        s"$cluster needs $needMb MB ($execMb executors + $driverMb driver heap + " +
          s"$tmpfsMb staged input on tmpfs), the host has $limitMb MB ($what)"
      }
  }

  /** Refuses a `local-cluster[workers,cores,memMb]` that does not fit the
    * host ([[misfit]]) while `stagedRows` input rows sit in [[Scratch]].
    */
  private def requireFits(workers: Int, cores: Int, memMb: Int, stagedRows: Long): Unit = {
    def firstLine[T](path: String)(pick: Iterator[String] => Option[T]): Option[T] =
      scala.util.Using(scala.io.Source.fromFile(path))(s => pick(s.getLines())).toOption.flatten
    val memTotalMb = firstLine("/proc/meminfo")(_.collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong / 1024 })
    val cgroupMb = firstLine("/sys/fs/cgroup/memory.max")(
      _.nextOption().flatMap(_.trim.toLongOption).map(_ >> 20)) // "max": no limit
    val onTmpfs = scala.util.Try(Files.getFileStore(Scratch.base.toPath).`type` == "tmpfs").getOrElse(false)
    val tmpfsMb = if (onTmpfs) (stagedRows * StagedBytesPerRow) >> 20 else 0L
    val why = misfit(workers, cores, memMb, Runtime.getRuntime.availableProcessors,
      Runtime.getRuntime.maxMemory >> 20, tmpfsMb, memTotalMb, cgroupMb)
    require(why.isEmpty, why.getOrElse(""))
  }

  /** An exception as a JSON-safe string: its class and the first line of
    * its message, quotes, backslashes and control characters replaced.
    */
  private def why(e: Throwable): String = (e.getClass.getSimpleName +
    Option(e.getMessage).fold("")(m => ": " + m.takeWhile(_ != '\n')))
    .replaceAll("[\"\\\\\\p{Cntrl}]", "'")

  /** One full pipeline pass: scan -> parse -> enrich -> route(write) ->
    * per-sink aggregate; returns wall seconds.
    */
  private def pipelineRun(spark: SparkSession, inputDir: String, outDir: String): Double = time {
    val seqs = spark.read.parquet(inputDir)
    val enriched = LogPipeline.run(spark, seqs, SequenceGen.configs)
    LogPipeline.routeWrite(enriched, outDir,
      spark.sparkContext.defaultParallelism)
    // per-sink aggregate over the routed output: partition-pruned, projects
    // zero data columns (counts come from parquet footers)
    spark.read.parquet(outDir).groupBy("sink").count().collect()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default: the cpus this process may run on (the affinity mask); a
    // malformed value degrades to the default, like SPARK_GRAFT_PIPE_REPS
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)
    val pipelineRows = sys.env.get("SPARK_GRAFT_BENCH_ROWS").flatMap(_.toLongOption)
      .filter(_ > 0).getOrElse(1000000L)
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"

    val doQueries = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") == "1"

    // ---- host-state gate: absolute CPU calibration before anything timed ----
    val calRetries = sys.env.get("SPARK_GRAFT_CAL_RETRIES").flatMap(_.toIntOption).getOrElse(3)
    val hostStart = calibrateGated(calRetries, 60000L)

    // ---- per-query timings (steady state: 1 warmup + 1 timed run) ----
    var spark = session(cpus)
    // JVM/codegen warmup; a query that fails here fails again when timed,
    // and is reported there
    try SparkEntry.queries.head._2(spark, sfDir).count() catch { case _: Throwable => () }
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the query phase (dev aid
    // for timing one operator without the 70-query sweep)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // a timed query that throws reads -1.0 and is named in "errors"
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = if (doQueries) SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1)).map { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      val secs = try time(fn(spark, sfDir).count()) catch { case e: Throwable =>
        errors(name) = why(e)
        -1.0
      }
      name -> secs
    } else Seq.empty

    // ---- full-pipeline throughput with stage metrics ----
    // A failure below must still emit the one-line JSON (the driver's only
    // signal), so the pipeline and scaling blocks degrade to error strings.
    // Best-of-N (symmetric with the scaling protocol): external host load
    // only ever ADDS time, so min-of-reps estimates capacity — a single rep
    // let a busy host masquerade as a −29% throughput regression in r3.
    val benchIn = s"$benchRoot/pipe-in"
    val benchOut = s"$benchRoot/pipe-out"
    // toIntOption: a malformed env var must degrade, not crash the bench
    // before its one-line JSON (the driver's only signal) is emitted
    val pipeReps = sys.env.get("SPARK_GRAFT_PIPE_REPS").flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(3)
    var stagesJson = "[]"
    val pipelineJson = try {
      SequenceGen.sequences(spark, pipelineRows, cpus * 2)
        .write.mode("overwrite").parquet(benchIn)
      pipelineRun(spark, benchIn, benchOut + "/warm") // warmup
      val reps = (1 to pipeReps).map { r =>
        // flush any dirty disk pages outside the timed window (bench I/O is
        // on tmpfs, but sbt/log writes can still be in flight)
        new ProcessBuilder("sync").inheritIO().start().waitFor()
        val out = benchOut + s"/timed-$r"
        try {
          // THIS rep's stage metrics, so the shipped detail describes
          // exactly the rep whose wall is reported, not 3 reps' stages
          // summed against one rep's seconds
          val (t, rec) = Recorder.observe(spark.sparkContext)(pipelineRun(spark, benchIn, out))
          System.err.println(f"[bench] pipeline rep=$r ${t.get}%.2f s")
          (t.get, rec.stagesJson)
        } finally Scratch.deleteRecursively(new File(out)) // bound tmpfs usage
      }
      val (pipeSecs, bestStages) = reps.minBy(_._1)
      stagesJson = bestStages
      val pipeThr = pipelineRows / pipeSecs
      val repsJson = reps.map(t => f"${t._1}%.2f").mkString("[", ",", "]")
      f""""pipeline":{"rows":$pipelineRows,"secs":$pipeSecs%.2f,"reps":$repsJson,"seqs_per_sec":$pipeThr%.0f},"""
    } catch { case e: Throwable =>
      s""""pipeline":{"error":"${e.getClass.getSimpleName}"},"""
    }
    // attributed teardown: executor-exit noise from this stop must not open
    // the log tail as an unexplained stack trace (r3 verdict #2). The
    // streaming queries' state-store maintenance pool outlives its session
    // and would fire unload failures MINUTES later, outside any marker —
    // stop it here, inside the attributed window.
    System.err.println("[bench] phase=query-session-teardown (any trace below until 'done' is stop() noise)")
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
    spark.stop()
    System.err.println("[bench] phase=query-session-teardown done")

    // ---- scaling efficiency: N vs 4N executor processes, same input ----
    // Protocol (BASELINE.md): identical job at local-cluster[N,4,8g] and
    // local-cluster[4N,4,8g] — one JVM per executor, matching a real
    // cluster's process isolation. Input sized so per-run compute dwarfs
    // fixed job overheads (scheduling, commit).
    // Best-of-4 per size (symmetric) estimates capacity; every rep starts with a sync
    // (identically for both sizes) and all I/O is tmpfs-backed.
    val scaling = if (doScaling) try {
      val scaleRows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "16000000").toLong
      val nSmall = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "1").toInt
      val coresPerExec = sys.env.getOrElse("SPARK_GRAFT_SCALE_CORES", "4").toInt
      val execMemMb = sys.env.getOrElse("SPARK_GRAFT_SCALE_MEM_MB", "8192").toInt
      // best-of-4, SYMMETRIC across sizes (min estimates capacity — noise
      // only ever adds time — and identical sampling on both sides keeps
      // the ratio free of estimator bias; external host load perturbs the
      // wide config ±25%, so 3 reps under-sampled it)
      val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "4").toInt
      val nLarge = nSmall * 4
      // before staging anything: a cluster the host cannot hold would wait
      // for executors that never register, or swap
      requireFits(nLarge, coresPerExec, execMemMb, scaleRows + scaleRows / 4)
      val scaleIn = s"$benchRoot/scale-in"
      val warmIn = s"$benchRoot/scale-warm-in"
      locally {
        val s = session(cpus)
        SequenceGen.sequences(s, scaleRows, 64).write.mode("overwrite").parquet(scaleIn)
        // quarter-size warmup input: the warmup exists to JIT the code
        // paths and spin executors, not to measure — a full-size warmup
        // was ~25% of the whole bench's wall budget
        SequenceGen.sequences(s, scaleRows / 4, 16).write.mode("overwrite").parquet(warmIn)
        System.err.println("[bench] phase=scale-staging-teardown (any trace below until 'done' is stop() noise)")
        s.stop()
        System.err.println("[bench] phase=scale-staging-teardown done")
      }
      // Host-state calibration, recorded WITH the measurement: external
      // co-tenant load is the documented ±25% wall-time hazard here, and on
      // a bad evening it caps the wide config outright (observed: x4
      // speedup ~2.3 while the same commit measured scaling 0.45; an hour
      // earlier x4 ~4 and scaling 1.13). This is a SECOND sample (the run
      // start's covers queries+pipeline) because the scaling phase starts
      // many minutes in and the host can shift meanwhile.
      val hostScale = calibrateGated(calRetries, 60000L)
      val hostX4 = hostScale.x4

      def measure(mkSession: Int => Option[SparkSession]): Option[Map[Int, Double]] = {
        // INTERLEAVED windows (small/large/small/large), half the reps per
        // window: external host load that shifts while the protocol runs
        // lands on windows of BOTH sizes, so the best-of ratio compares
        // like states. The all-small-then-all-large order caught a
        // steal-time spike (vmstat st up to 24%) on one side only and
        // measured eff 0.449 on a commit whose neighboring runs gave
        // 0.886 / 1.132. Costs one extra warmup+session cycle per size.
        val repsPerWindow = math.max(1, reps / 2)
        val windows = Seq(nSmall, nLarge, nSmall, nLarge).zipWithIndex
        val secs = scala.collection.mutable.Map[Int, Vector[Double]]()
          .withDefault(_ => Vector())
        // a window that runs this far below any throughput a real host gave
        // is stalled (executors that never register, a wedged job)
        val deadlineS = 120L + (scaleRows / 4 + repsPerWindow * scaleRows) / MinScaleRowsPerSec
        for ((n, w) <- windows) {
          mkSession(n) match {
            case None => return None
            case Some(s) =>
              // on expiry the window's jobs are cancelled and its session
              // stopped, so whatever it waits on fails fast, and the phase
              // reports the timeout instead of hanging
              val expired = new java.util.concurrent.atomic.AtomicBoolean(false)
              val watchdog = new java.util.Timer(s"bench-scale-deadline-$n-$w", true)
              watchdog.schedule(new java.util.TimerTask {
                def run(): Unit = { expired.set(true); s.sparkContext.cancelAllJobs(); s.stop() }
              }, deadlineS * 1000)
              try {
                val warm = benchOut + s"/scale-warm-$n"
                Recorder.observe(s.sparkContext)(pipelineRun(s, warmIn, warm)) match {
                  case (Success(tw), rec) =>
                    System.err.println(f"[bench] scale n=$n w=$w warmup ${tw}%.2f s${failures(rec)}")
                  case (Failure(e), rec) =>
                    System.err.println(s"[bench] scale n=$n w=$w phase=warmup FAILED: $e${failures(rec)}")
                    throw e
                }
                Scratch.deleteRecursively(new File(warm))
                (1 to repsPerWindow).foreach { r =>
                  new ProcessBuilder("sync").inheritIO().start().waitFor()
                  // prior reps' shuffle files sit in the (tmpfs) local dirs
                  // until the ContextCleaner collects the shuffle objects —
                  // force it so reps don't inherit a growing RAM footprint
                  System.gc()
                  Thread.sleep(1000)
                  val out = benchOut + s"/scale-$n-$w-$r"
                  try Recorder.observe(s.sparkContext)(pipelineRun(s, scaleIn, out)) match {
                    case (Success(t), rec) =>
                      System.err.println(f"[bench] scale n=$n w=$w rep=$r ${t}%.2f s${failures(rec)}")
                      secs(n) = secs(n) :+ t
                    case (Failure(e), rec) =>
                      System.err.println(s"[bench] scale n=$n w=$w phase=rep-$r FAILED: $e${failures(rec)}")
                  } finally Scratch.deleteRecursively(new File(out)) // bound tmpfs usage
                    // (also on failure — a partial rep output must not eat the
                    // headroom of the remaining reps)
                }
              } finally {
                watchdog.cancel()
                // ALWAYS tear the executor JVMs down — a leaked 8 GB
                // local-cluster from a failed size would skew everything after
                // it — and attribute any executor-exit trace the stop prints
                System.err.println(s"[bench] phase=scale-teardown n=$n w=$w (any trace below until 'done' is stop() noise)")
                s.stop()
                System.err.println(s"[bench] phase=scale-teardown n=$n w=$w done")
                if (expired.get) throw new java.util.concurrent.TimeoutException(
                  s"scaling window n=$n w=$w passed its $deadlineS s deadline")
              }
          }
        }
        Seq(nSmall, nLarge).foreach(n =>
          require(secs(n).nonEmpty, s"all scaling reps failed at n=$n"))
        Some(Seq(nSmall, nLarge).map(n => n -> scaleRows / secs(n).min).toMap)
      }
      val thr = measure(n => clusterSession(n, coresPerExec, execMemMb))
        .getOrElse(measure(n => Some(session(n * coresPerExec))).get) // thread fallback
      val eff = thr(nLarge) / (4.0 * thr(nSmall))
      f""""scaling":{"rows":$scaleRows,"n_small":$nSmall,"n_large":$nLarge,"cores_per_executor":$coresPerExec,"throughput_n":${thr(nSmall)}%.0f,"throughput_4n":${thr(nLarge)}%.0f,"efficiency":$eff%.3f,"host_cpu_x4":$hostX4%.2f,"host":{${hostScale.json}}},"""
    } catch { case e: Throwable =>
      // class and first message line, so a refused or stalled phase says why
      s""""scaling":{"error":"${why(e)}"},"""
    } else ""

    // compact per-query map: 3 decimals keeps the whole line well under the
    // driver's output-capture window
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      errors.map { case (k, v) => s""""$k":"$v"""" }.mkString(""""errors":{""", ",", "},") +
      s""""host":{${hostStart.json}},""" +
      pipelineJson +
      scaling +
      s""""sf":"$sfDir"}"""
    // full detail (per-stage records/shuffle/skew) for BASELINE.md + debugging
    try Files.write(Paths.get("bench_detail.json"),
      (line.dropRight(1) + s""","stages":$stagesJson}""").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line)
  }
}
