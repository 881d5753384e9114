package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.data.SequenceGen
import graft.functions.F
import graft.streaming.StreamingPipeline

/** `live_views`: one producer in a closed loop against four live streams
  * (`ingest`, `histogramToSink`, `fieldCellsToSink`, `templateCellsToSink`,
  * all on `Trigger.ProcessingTime(0)`). A batch lands as one sequences file
  * plus its rendered (source, raw) twin, and the next lands only after all
  * four streams committed it; then the three served views are read. From
  * the second batch on a seeded 3% of rows are late.
  */
object LiveViews {
  val BatchRows = 500
  val LatePerMille = 30
  /** Fewer ms than any batch takes (four triggers plus three reads); the
    * staged stock is sized by it. Should the program become this fast, the
    * timed loop ends when the stock is used up, which is not a failure.
    */
  val FloorMsPerBatch = 500
  val Names = Seq("ingest", "histogram", "field_cells", "templates")

  /** Batches to stage for a window of `seconds`: the warm-up, the window at
    * the floor rate, and slack for rounding to whole pairs.
    */
  def batches(seconds: Double): Int = 1 + math.ceil(seconds * 1000 / FloorMsPerBatch).toInt + 3

  /** Per-query committed files and every progress report, from a listener
    * the benchmark owns. A batch lands as one file per input dir and the next
    * lands only after the commit, so each data batch reads exactly one file
    * and the file source's `logOffset` is the index of the last committed
    * file. (`numInputRows` cannot serve here: a `foreachBatch` sink that runs
    * several actions on its batch counts the rows once per action.)
    */
  final class Progress extends StreamingQueryListener {
    private val lastFile = new ConcurrentHashMap[UUID, java.lang.Long]()
    private val logOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
    val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(notifyAll())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      reports.add(p)
      p.sources.headOption.flatMap(src => Option(src.endOffset)).flatMap(logOffset.findFirstMatchIn)
        .foreach(m => lastFile.merge(p.id, m.group(1).toLong, (a, b) => math.max(a, b)))
      synchronized(notifyAll())
    }
    def committed(id: UUID): Long = Option(lastFile.get(id)).map(_.longValue).getOrElse(-1L)

    /** Wait until every query committed file `index`; false on a stall. */
    def await(ids: Seq[UUID], index: Long, timeoutMs: Long): Boolean = synchronized {
      val end = System.currentTimeMillis() + timeoutMs
      while (!ids.forall(committed(_) >= index)) {
        val left = end - System.currentTimeMillis()
        if (left <= 0) return false
        wait(left)
      }
      true
    }
  }

  /** One set-up: staged batches, the four streams, their dirs. */
  final class Setup(val root: String, val queries: Seq[StreamingQuery]) {
    def ids: Seq[UUID] = queries.map(_.id)
    def nameOf: Map[UUID, String] = ids.zip(Names).toMap
    def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => () })
  }

  def isLate(e: Ev): Boolean = java.lang.Math.floorMod(Gen.mix(e.id * 31L + 9L), 1000L) < LatePerMille

  /** All batches' events in landing order; rows of batch 0 are never late. */
  def events(seed: Long, batches: Int): Vector[Ev] = {
    val lo = Gen.firstId(seed)
    var lateIdx = 0
    Vector.tabulate(batches * BatchRows) { i =>
      val id = lo + i
      val probe = Gen.event(id, lo)
      if (i >= BatchRows && isLate(probe)) { lateIdx += 1; Gen.event(id, lo, late = true, lateIdx - 1) }
      else probe
    }
  }

  def setup(ctx: Ctx, k: Int, evs: Vector[Ev]): Setup = {
    val spark = ctx.spark
    val root = ctx.dir(s"live-$k")
    val seqs = Gen.sequences(spark, evs, ctx.conf.cores, batchOf = Some(e => ((e.id - evs.head.id) / BatchRows).toInt))
      .repartition(col("batch")).cache()
    seqs.write.partitionBy("batch").parquet(s"$root/staged-seq")
    seqs.select(col("source"), F.tokens_to_text(col("tokens")).as("raw"), col("batch"))
      .write.partitionBy("batch").parquet(s"$root/staged-raw")
    seqs.unpersist()
    Seq("in-seq", "in-raw").foreach(d => new File(root, d).mkdirs())
    val trig = Trigger.ProcessingTime(0L)
    val cfg = SequenceGen.configs
    val qs = Seq(
      // salt buckets sized to the host, as `Main --out` sizes its route write
      StreamingPipeline.ingest(spark, s"$root/in-seq", s"$root/out-ingest", s"$root/ck-ingest", cfg,
        saltBuckets = spark.sparkContext.defaultParallelism, trigger = trig),
      StreamingPipeline.histogramToSink(spark, s"$root/in-seq", s"$root/out-hist", s"$root/ck-hist", cfg, trigger = trig),
      StreamingPipeline.fieldCellsToSink(spark, s"$root/in-seq", s"$root/out-fields", s"$root/ck-fields", cfg, trigger = trig),
      StreamingPipeline.templateCellsToSink(spark, s"$root/in-raw", s"$root/out-tpl", s"$root/ck-tpl", trigger = trig))
    new Setup(root, qs)
  }

  /** Land batch `b`: its sequences file, then its rendered twin. */
  def land(s: Setup, b: Int): Unit = Seq("seq", "raw").foreach { kind =>
    val dir = new File(s.root, s"staged-$kind/batch=$b")
    val part = dir.listFiles().filter(f => f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s.root, s"in-$kind", f"b-$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Sample(freshMs: Double, serveMs: Double)

  def run(ctx: Ctx): Unit = {
    val conf = ctx.conf
    val spark = ctx.spark
    val stock = batches(conf.seconds)
    val evs = events(conf.seed, stock)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val readers: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val progress = new Progress
    spark.streams.addListener(progress)
    var live: Setup = null
    val setups = ctx.phase("setup", 90) {
      // five set-ups: the first is cold, the median is of warm ones
      (0 until 5).map { k =>
        if (live != null) live.stop()
        val (s, ms) = ctx.timeMs(setup(ctx, k, evs))
        live = s; ms
      }
    }.getOrElse(Vector.empty)
    if (live == null) return
    ctx.out.e2e("setup_s") = (Stats.median(setups) / 1000.0, "s")
    val s = live
    var landed = 0
    var sentOnTime = 0L
    var late = 0L
    var lateCells = 0L
    def more() = landed < stock

    /** Land the next batch, wait for all four commits, read the views. */
    def batch(req: String): Sample = {
      val b = landed
      if (b >= stock) throw new IllegalStateException(s"all $stock staged batches used")
      val rows = evs.slice(b * BatchRows, (b + 1) * BatchRows)
      val t0 = System.nanoTime()
      ctx.tr.span("producer.land", req)(land(s, b))
      landed += 1
      val ok = ctx.tr.span("StreamingPipeline.commit_wait", req)(
        progress.await(s.ids, b.toLong, 60000L))
      val fresh = (System.nanoTime() - t0) / 1e6
      late += rows.count(_.late)
      lateCells += rows.filter(_.late).map(_.fieldCount.toLong).sum
      sentOnTime += rows.count(!_.late)
      if (!ok) {
        ctx.out.error(s"live batch $b", "streams did not commit within 60 s: " +
          s.ids.map(id => s"${s.nameOf(id)}=${progress.committed(id)}").mkString(", "))
        throw new IllegalStateException(s"live batch $b stalled")
      }
      val t1 = System.nanoTime()
      // a dashboard reads the three views at once
      val parent = ctx.tr.current
      def read[A](name: String)(body: => A): Future[A] = Future {
        ctx.group("serve")(ctx.tr.span(s"StreamingPipeline.$name", req, parent)(body))
      }(readers)
      val hist = read("servedHistogram")(
        StreamingPipeline.servedHistogram(spark, s"${s.root}/out-hist").agg(sum(col("n"))).head())
      val cells = read("servedFieldCells")(StreamingPipeline.servedFieldCells(spark, s"${s.root}/out-fields").count())
      val tpl = read("servedTemplateCells")(StreamingPipeline.servedTemplateCells(spark, s"${s.root}/out-tpl").count())
      val (h, c, t) = Await.result(hist.zip(cells).zip(tpl).map { case ((a, b), d) => (a, b, d) }(readers), 120.seconds)
      val serve = (System.nanoTime() - t1) / 1e6
      val total = if (h.isNullAt(0)) 0L else h.getLong(0)
      ctx.out.check(s"live batch $b histogram total", total == sentOnTime,
        s"served $total != sent-minus-late $sentOnTime")
      ctx.out.check(s"live batch $b views non-empty", c > 0 && t > 0, s"cells=$c templates=$t")
      Sample(fresh, serve)
    }

    def loop(seconds: Double, minOps: Int, tag: String): Vector[Sample] = {
      val out = Vector.newBuilder[Sample]
      ctx.loop(seconds, minOps, more = () => more()) { i => val smp = batch(s"$tag-$i"); out += smp; smp.freshMs }
      out.result()
    }

    try {
      ctx.phase("warm-up", 60)(loop(0, 1, "warm"))
      if (!conf.trace) {
        val (xs, wall) = ctx.timeMs(ctx.phase("measure", conf.seconds + 60)(
          loop(conf.seconds, 3, "batch")).getOrElse(Vector.empty))
        if (xs.nonEmpty) {
          val fresh = xs.map(_.freshMs)
          ctx.out.e2e("latency_p50_ms") = (Stats.median(fresh), "ms")
          ctx.out.note("view_freshness_p50_ms", Stats.median(fresh), "ms")
          ctx.out.noteTail("view_freshness_tail_ms", fresh, "ms")
          ctx.out.note("view_serve_p50_ms", Stats.median(xs.map(_.serveMs)), "ms")
          val perS = xs.length * BatchRows / (wall / 1000.0)
          ctx.out.e2e("throughput_per_s") = (perS, "1/s")
          ctx.out.note("view_rows_per_s", perS, "1/s")
        }
      } else {
        val from = progress.reports.size
        val (u, t) = ctx.phase("traced", conf.seconds + 90)(
          Traced.alternate(ctx, "live.batch", conf.seconds, minPairs = 2, () => more()) { (i, traced) =>
            val req = s"batch-$i-$traced"
            ctx.timeMs(ctx.tr.span("live.batch", req)(batch(req)))._2
          }).getOrElse((Vector.empty, Vector.empty))
        Traced.sparkCounters(ctx, u.length + t.length)
        layers(ctx, s, progress.reports.asScala.toVector.drop(from))
      }
      if (landed >= stock) println(s"[perfbench] all $stock staged batches used; the window ended early")
      ctx.out.note("live_batches_landed", landed.toDouble, "count")
      // once the loop is done: the late-row checks and the ingest stream's output
      ctx.phase("checks", 60) {
        def dropped(id: UUID) = progress.reports.asScala.filter(_.id == id)
          .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
        // what each query's watermark must drop: every late row is on a day of
        // its own, so it stays one row through the histogram's partial
        // aggregation and one cell per field through the field-cells one;
        // the ingest and template streams have no watermark
        val want = Map("ingest" -> 0L, "histogram" -> late, "field_cells" -> lateCells, "templates" -> 0L)
        s.ids.zip(Names).foreach { case (id, name) =>
          ctx.out.layers(s"StreamingPipeline.$name.late_rows_dropped") = (dropped(id).toDouble, "count")
          ctx.out.check(s"live $name late rows dropped", dropped(id) == want(name),
            s"${dropped(id)} != ${want(name)} from the generator")
        }
        ctx.out.layers("StreamingPipeline.late_rows_sent") = (late.toDouble, "count")
        val ingested = spark.read.parquet(s"${s.root}/out-ingest").count()
        ctx.out.check("live ingest rows", ingested == landed.toLong * BatchRows,
          s"$ingested != ${landed.toLong * BatchRows}")
        val deltas = Seq("out-hist", "out-fields", "out-tpl").map(d =>
          Option(new File(s.root, d).listFiles()).getOrElse(Array.empty[File]).count(_.getName.startsWith("delta="))).sum
        ctx.out.layers("StreamingPipeline.delta_dirs") = (deltas.toDouble, "count")
      }
    } finally {
      s.stop()
      spark.streams.removeListener(progress)
      pool.shutdown()
    }
  }

  /** Per-trigger breakdown of the traced batches, from each query's progress. */
  def layers(ctx: Ctx, s: Setup, reports: Vector[StreamingQueryProgress]): Unit = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    s.ids.zip(Names).foreach { case (id, name) =>
      val ps = reports.filter(p => p.id == id && p.numInputRows > 0)
      def d(k: String) = med(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val L = ctx.out.layers
      L(s"StreamingPipeline.$name.trigger_ms") = (d("triggerExecution"), "ms")
      L(s"StreamingPipeline.$name.add_batch_ms") = (d("addBatch"), "ms")
      L(s"StreamingPipeline.$name.planning_ms") = (d("queryPlanning"), "ms")
      L(s"StreamingPipeline.$name.commit_ms") = (med(ps.map(p =>
        Seq("walCommit", "commitOffsets").map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum)), "ms")
      L(s"StreamingPipeline.$name.state_commit_ms") = (med(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms")
      val last = ps.lastOption
      L(s"StreamingPipeline.$name.state_rows") = (last.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0), "count")
      L(s"StreamingPipeline.$name.state_mem_bytes") = (last.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum).getOrElse(0.0), "bytes")
    }
    Seq("servedHistogram" -> "served_histogram_ms", "servedFieldCells" -> "served_field_cells_ms",
      "servedTemplateCells" -> "served_template_cells_ms").foreach { case (sp, k) =>
      ctx.out.layers(s"StreamingPipeline.$k") = (Traced.perReqMs(ctx, s"StreamingPipeline.$sp"), "ms")
    }
  }
}
