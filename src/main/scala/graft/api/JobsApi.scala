package graft.api

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

import graft.compile.{EventsFrame, Frame, QueryEngine, TableFrame}

/** The reference's job API surface (internal/web/Web.go:163-276 —
  * startJob / jobStats / jobResults / jobFieldStats) rebuilt over the query
  * engine. A "job" is a compiled, lazily-evaluated frame; its ORDERED result
  * and field-stats aggregate materialize once into Spark block storage on
  * the first action (the JobResults/JobFieldValues store of the reference,
  * plugins/sqlite_jobs/SqliteJobRepository.go:34-49) and every later page /
  * stat / field-stat serves from those caches. The first action pays the
  * one-time sort (exactly like the reference's insert-sorted store);
  * [[releaseJob]] is the eviction valve for long-lived processes.
  *
  * A newest-first (timestampDesc) events job does not make its first page
  * wait for that sort. The reference drains each storage page into its job
  * store while the scan runs (internal/jobs/Engine.go:98-161), so its first
  * page is ready early; here the job pins its compiled match set once, and
  * one top-k job over it renders the first [[JobsApi.HeadRows]] rows (the
  * job's head) while filling that cache. Everything else reads the pinned
  * match set, so the store is scanned once per search; [[pump]] orders
  * that work.
  *
  * A job of at most [[JobsApi.LocalPageCacheMaxRows]] rows needs no sort
  * and no aggregate at all: one narrow pass ([[Job#local]]) brings every
  * row's wire JSON and the field counts to the driver, which sorts and
  * counts them there, so a small search runs two Spark jobs, the head and
  * that pass. The sorted, pinned [[jobResults]] frames and the
  * [[jobFieldStats]] aggregate are still built, by the path above, when an
  * in-process caller first asks for them; the HTTP surface never does.
  *
  * Lifecycle mirrors pkg/logsuck/jobs/Job.go:24-40 (Running/Finished/
  * Aborted) and internal/jobs/Engine.go:84-174 (Abort cancels the running
  * work): every action for job N runs under Spark job group `graft-job-N`
  * with interruptOnCancel, and abortJob cancels that group — in-flight
  * stages stop, not just the bookkeeping entry. A query that fails ends
  * its job as aborted too (the reference's state enum has no failed
  * value), so a failed job reaches a terminal state and ages out.
  */
class JobsApi(engine: QueryEngine, indexDir: Option[String] = None,
    jobTtlMillis: Option[Long] = None) {

  final class Job private[JobsApi] (val id: Long, val query: String,
      val frame: Frame, val sortMode: String, val columnOrder: Seq[String],
      private[JobsApi] val hasHead: Boolean) {
    @volatile private[JobsApi] var stateRef: String = JobsApi.Running
    def state: String = stateRef

    /** Wall-clock millis when the job reached a terminal state (Finished /
      * Aborted); 0 while Running. The TTL sweep ([[expireJobs]]) ages jobs
      * out from this mark — a long-poll client keeps its job alive by
      * design only until it finishes, after which the TTL clock runs.
      */
    @volatile private[JobsApi] var terminalAtMs: Long = 0L
    /** Running -> `state`; false (and no change) when the job already left
      * Running, so of two racing transitions exactly one wins.
      */
    private[JobsApi] def markTerminal(state: String): Boolean = synchronized {
      if (stateRef != JobsApi.Running) false
      else {
        stateRef = state
        terminalAtMs = System.currentTimeMillis()
        true
      }
    }

    /** A value this job computes at most once, under a lock of its own.
      * Not a `lazy val`: those all lock the Job, so one long computation
      * (the sort behind [[index]]) would stall every other thread
      * that wants an unrelated value ([[head]], [[fieldStatsCached]]). A
      * failed computation leaves the cell empty; an aborted job computes
      * nothing more, so a chain still running after an abort or a failure
      * stops at its next cell instead of re-running the query.
      */
    private[JobsApi] final class Once[A](compute: => A) {
      @volatile private var value: Option[A] = None
      def isDone: Boolean = value.isDefined
      def get: A = value.getOrElse(synchronized {
        if (value.isEmpty) {
          if (stateRef == JobsApi.Aborted) throw JobsApi.JobAbortedException(id)
          value = Some(compute)
        }
        value.get
      })
    }

    /** The compiled match set of a timestampDesc events job, pinned once
      * (memory, spilling to disk). Its first scan is the [[head]] job, so
      * the store is read once per search: [[local]], [[results]] and
      * [[fieldStatsCached]] read this cache, and [[releaseMatches]] drops
      * it once nothing needs it.
      */
    private[JobsApi] val matches: Once[DataFrame] =
      new Once(pin(frame.df))

    /** The first [[JobsApi.HeadRows]] rows of a timestampDesc events job as
      * their wire JSON: one top-k job (`TakeOrderedAndProject`, no range
      * sample, no global sort) over [[matches]], which fills the match
      * cache as it scans. Same rows, same order `(ts DESC, doc_id)` and
      * same wire JSON as [[local]] and [[rendered]], so a page sliced from
      * it is byte-identical to the later page.
      */
    private[JobsApi] val head: Once[Array[String]] = new Once(
      JobsApi.eventsWire(QueryEngine.newestFirst(EventsFrame(matches.get))
        .limit(JobsApi.HeadRows)).toJSON.collect())

    /** Persisted-results analog of the reference's per-job results store
      * (plugins/sqlite_jobs/SqliteJobRepository.go:34-49,99-186 persists
      * JobResults/JobTableResults once and serves every page from it): the
      * ORDERED result materializes once into executor block storage
      * (memory, spilling to disk) on its first action: the stats of a table
      * or `surrounding` job or of a large job, or an in-process page;
      * every later use reads the cache instead of re-running the compiled
      * query + sort. A timestampDesc events job sorts its pinned
      * [[matches]], not the store.
      */
    private[JobsApi] val results: Once[DataFrame] = new Once({
      val ordered = frame match {
        case TableFrame(df, _) => df
        case f: EventsFrame if sortMode == "preserveArgOrder" => f.df
        case _ if hasHead => QueryEngine.newestFirst(EventsFrame(matches.get))
        case f: EventsFrame => QueryEngine.newestFirst(f)
      }
      pin(ordered)
    })

    /** The cached results re-wrapped as a Frame (same shape as `frame`) so
      * the engine's aggregate operators run over the persisted rows.
      */
    private[JobsApi] def resultsFrame: Frame = frame match {
      case TableFrame(_, order) => TableFrame(results.get, order)
      case _: EventsFrame => EventsFrame(results.get)
    }

    /** JobFieldValues analog: the (key, value, occurrences) aggregate,
      * persisted on first use — jobFieldStats for different fields then
      * only filters it. A timestampDesc events job aggregates its pinned
      * [[matches]] (the same rows as its results; the aggregate is
      * order-free), so the stats need not wait for the sort; other jobs
      * aggregate their persisted results. An imported job serves the
      * aggregate written at export time instead of recomputing it.
      */
    private[JobsApi] var fieldStatsOverride: Option[DataFrame] = None
    private[JobsApi] val fieldStatsCached: Once[DataFrame] = new Once(
      pin(fieldStatsOverride.getOrElse(engine.fieldStats(
        if (hasHead) EventsFrame(matches.get) else resultsFrame))))

    /** A2 of a large or imported job's stats: distinct values per field
      * key, folded from the persisted [[fieldStatsCached]] aggregate once.
      */
    private[JobsApi] val fieldCounts: Once[Map[String, Long]] = new Once(
      fieldStatsCached.get.groupBy(col("key")).agg(count(lit(1)).as("n_values"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

    /** The page index over the pinned results cache, built in ONE narrow
      * pass with the first action on [[results]]: each cached partition's
      * row count and, for a timestampDesc job, its first (ts, doc_id) key.
      * Positional pages then read ONLY the cached partitions containing
      * [skip, skip+take) — no per-page global shuffle, no scan of
      * partitions before or after the page — and a keyset page prunes its
      * scan to the partitions at/after its anchor ([[jobResultsAfter]]).
      * The matched-event count is the last prefix start, so the pass
      * doubles as the jobStats count. Once it is built, the results are
      * pinned.
      */
    private[JobsApi] val index: Once[JobsApi.PageIndex] = new Once({
      val r = results.get
      val keyed = sortMode == "timestampDesc"
      val (tsIdx, didIdx) =
        if (keyed) (r.schema.fieldIndex("ts"), r.schema.fieldIndex("doc_id")) else (-1, -1)
      val parts = r.rdd.mapPartitionsWithIndex((i, it) => Iterator((i, {
        val first = if (keyed && it.hasNext) {
          val row = it.next()
          Some((JobsApi.rowLdt(row.get(tsIdx)), row.getString(didIdx)))
        } else None
        var n = if (first.isDefined) 1L else 0L
        while (it.hasNext) { it.next(); n += 1 }
        (n, first)
      }))).collect().sortBy(_._1).map(_._2)
      JobsApi.PageIndex(parts.map(_._1).scanLeft(0L)(_ + _), parts.map(_._2))
    })

    /** A small job's whole result on the driver, or None for a job of more
      * than [[JobsApi.LocalPageCacheMaxRows]] rows. The reference's pump
      * fills one per-job results and field-values table in a single drain
      * (internal/jobs/Engine.go:84-174, SqliteJobRepository.go:34-49,99-205);
      * here one narrow pass ([[JobsApi.gather]]) over the job's pinned rows
      * gathers every row's wire JSON and the field stats, and the pages, the
      * count, FieldCount and the field-values cuts all come from it with no
      * further Spark job. A timestampDesc events job runs it after its
      * [[head]], over the match set the head cached; the size is the row
      * count that cache recorded as it filled, so no count job runs, and
      * the match set is released after the pass. Other jobs count their
      * pinned [[results]] with the [[index]] pass first. A large job keeps
      * the [[results]] / [[index]] / [[rendered]] path.
      */
    private[JobsApi] val local: Once[Option[JobsApi.Gathered]] = new Once({
      val (rows, n) =
        if (hasHead) {
          head.get
          val m = matches.get
          (m, Bridge.cachedRows(m).getOrElse(m.queryExecution.toRdd.count()))
        } else (results.get, index.get.starts.last)
      if (n > JobsApi.LocalPageCacheMaxRows) None
      else {
        val all = JobsApi.gather(rows, frame, keyed = hasHead)
        releaseMatches()
        Some(all)
      }
    })

    /** A large job's wire JSON, rendered once: the events wire keys
      * (reference EventWithExtractedFields, pkg/logsuck/events/Event.go:46-54)
      * for an events job, the table's own columns for a table job — the
      * bytes a per-page `toJSON` of the same rows gives. It stays on the
      * executors: one narrow map over the persisted results (same
      * partitioning, so [[index]] slices apply verbatim), pinned as it is
      * first read, so a page is a partition-pruned job over cached strings.
      * It is registered for release before the cell completes, so an abort
      * leaks nothing.
      */
    private[JobsApi] val rendered: Once[RDD[String]] = new Once({
      val r = (frame match {
        case _: TableFrame => results.get
        case _: EventsFrame => JobsApi.eventsWire(results.get)
      }).toJSON.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      persistedRdds.add(r)
      r
    })

    /** Whether pages come from the whole result rather than the [[head]]:
      * once the one pass gathered a small job, or once a large job's page
      * index is built.
      */
    private[JobsApi] def pagesReady: Boolean =
      local.isDone && (local.get.isDefined || index.isDone)

    // memoized jobStats — the second stats call launches zero Spark jobs
    @volatile private[JobsApi] var statsCache: JobStats = null

    // every frame this job actually pinned, in materialization order —
    // unpersistAll unpins exactly these (an unmaterialized cell is never
    // built just to be unpinned, and a cache any cell created is never
    // missed, e.g. an imported job that only materialized fieldStatsCached)
    private val persistedFrames =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private val persistedRdds = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
    private def pin(df: DataFrame): DataFrame = { JobsApi.pin(df); persistedFrames.add(df); df }

    /** Drop the pinned match set; called once a small job's one pass has
      * gathered it ([[local]]), or once a large job's [[results]] (with
      * their page index) and field-stats aggregate are pinned. Nothing on
      * the HTTP path reads it after that, and Spark keeps a loaded dependent
      * cache when the cache it was built from goes, so a finished job holds
      * no more cached data than its results and stats; an in-process frame
      * asked for later reads the store again.
      */
    private[JobsApi] def releaseMatches(): Unit =
      if (matches.isDone && persistedFrames.remove(matches.get))
        JobsApi.unpin(matches.get)

    /** Drop every cached artifact of this job that no other live job with
      * the same plan still pins.
      */
    private[JobsApi] def unpersistAll(): Unit = {
      var df = persistedFrames.poll()
      while (df != null) { JobsApi.unpin(df); df = persistedFrames.poll() }
      var r = persistedRdds.poll()
      while (r != null) { r.unpersist(blocking = false); r = persistedRdds.poll() }
    }
  }

  final case class JobStats(state: String, numMatchedEvents: Long,
      fieldOccurrences: Map[String, Long])

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Job]()

  private def sc = engine.events.sparkSession.sparkContext
  private def groupId(id: Long) = s"graft-job-$id"

  /** Run a Spark action on behalf of a job: tagged with the job's group (so
    * abort can cancel it). Any failure of a running job — a cancellation or
    * an error in the query itself — ends it as aborted (the reference's
    * wire enum has no failed state): its other in-flight stages are
    * cancelled, its caches dropped, and later calls answer from the state
    * without running the failing query again.
    */
  private def withJobGroup[A](job: Job)(body: => A): A = {
    sc.setJobGroup(groupId(job.id), s"graft query: ${job.query}", interruptOnCancel = true)
    try body
    catch { case e: Throwable =>
      abort(job)
      throw e
    }
    finally sc.clearJobGroup()
  }

  /** Move a running job to Aborted: cancel its group's stages and drop its
    * partially cached artifacts. A job that already left Running is left
    * as it is.
    */
  private def abort(job: Job): Unit =
    if (job.markTerminal(JobsApi.Aborted)) {
      sc.cancelJobGroup(groupId(job.id))
      job.unpersistAll()
    }

  /** Go time.ParseDuration ([[QueryEngine.goDurationNanos]]; Web.go:349
    * passes relativeTime through it), in millis.
    */
  def parseGoDuration(s: String): Long = (QueryEngine.goDurationNanos(s) / 1e6).round

  /** Retention-style duration (plugins/tasks/DeleteOldEventsTask.go:97-129):
    * positive integer + one of s m h d M y (1d=24h, 1M=30d, 1y=365d).
    */
  def parseRetentionDuration(s: String): Long = {
    val m = java.util.regex.Pattern.compile("^(\\d+)(s|m|h|d|M|y)$").matcher(s)
    if (!m.matches()) throw new IllegalArgumentException(
      s"str='$s' does not match the duration pattern")
    val n = m.group(1).toLong
    m.group(2) match {
      case "s" => n * 1000
      case "m" => n * 60000
      case "h" => n * 3600000
      case "d" => n * 86400000
      case "M" => n * 30L * 86400000
      case "y" => n * 365L * 86400000
    }
  }

  /** startJob (Web.go:163-176): relativeTime (Go duration, usually negative)
    * resolves to startTime = now + d with no end bound; otherwise absolute
    * RFC3339 bounds. Sort mode comes from the COMPILED steps (a surrounding
    * generator preserves its own order — events/Repository.go:23-29), never
    * from substring-matching the query text.
    */
  def startJob(query: String,
      relativeTime: Option[String] = None,
      startTime: Option[Timestamp] = None,
      endTime: Option[Timestamp] = None,
      now: Instant = Instant.now()): Job = {
    val (s, e) = relativeTime match {
      case Some(rt) =>
        (Some(Timestamp.from(now.plusMillis(parseGoDuration(rt)))), None)
      case None => (startTime, endTime)
    }
    val steps = engine.compile(query.trim, s, e)
    // fragment searches route through the inverted index when one is
    // attached — the reference serves every search via its FTS MATCH
    // prefilter (SqliteEventRepository.go:327-352); non-indexable shapes
    // fall back to the scan transparently inside searchFrame. The index
    // probe runs EAGER Spark jobs (posting counts + candidate-id collect),
    // so it is tagged with the job's group up front — cancelJobGroup on
    // this id interrupts the probe exactly like any later action.
    val id = nextId.getAndIncrement()
    val frame = indexDir match {
      case Some(d) =>
        sc.setJobGroup(groupId(id), s"graft query: ${query.trim}", interruptOnCancel = true)
        try graft.plans.FullTextIndex.searchFrame(
          engine.events.sparkSession, engine, d, query.trim, s, e)
        finally sc.clearJobGroup()
      case None => engine.runSteps(steps)
    }
    val (sortMode, cols) = frame match {
      case TableFrame(_, order) => ("none", order)
      case _: EventsFrame =>
        val mode = if (steps.exists(_.name == "surrounding")) "preserveArgOrder"
          else "timestampDesc"
        (mode, Seq.empty)
    }
    val job = new Job(id, query, frame, sortMode, cols,
      hasHead = sortMode == "timestampDesc")
    jobs.put(job.id, job)
    job
  }

  /** The work a started job does before any client asks for it (the
    * reference's pump, internal/jobs/Engine.go:84-174). A timestampDesc
    * events job first renders its [[Job#head]] — one top-k job that pins
    * the match set as it scans — so its first page is ready after one
    * pass. Then one narrow pass over the match set ([[Job#local]]) gathers
    * a small job's every page, count and field stats, and [[jobStats]]
    * reads them. A larger job runs two overlapping chains instead: `fork`
    * builds the page index, while this thread runs [[jobStats]] (the
    * field stats over the match set, then the count from the page index).
    * Other jobs run [[jobStats]] alone. Failures end the job as aborted
    * (see [[withJobGroup]]) and are rethrown to the caller of each chain.
    */
  def pump(id: Long)(fork: (() => Unit) => Unit): Unit = {
    val job = jobOrThrow(id)
    if (job.hasHead) {
      withJobGroup(job)(job.head.get): Unit
      if (withJobGroup(job)(job.local.get).isEmpty)
        fork(() => withJobGroup(job)(job.index.get): Unit)
    }
    jobStats(id): Unit
  }

  /** Abort (Engine.go:157-174 + Web.go abortJob): cancels the job's Spark
    * job group — running stages are interrupted — and moves a running job
    * to Aborted. Returns whether the job exists. Aborting an already
    * finished job is accepted but doesn't change its state (the reference's
    * cancel func is nil once the pump exits).
    */
  def abortJob(id: Long): Boolean = {
    val job = jobs.get(id)
    if (job == null) return false
    abort(job)
    true
  }

  /** Drop a job and every cached artifact it holds — the manual lifecycle
    * valve that keeps a long-lived API process from accumulating result
    * caches. (The reference keeps job rows forever in its jobs store —
    * plugins/sqlite_jobs/SqliteJobRepository.go has no delete path; at
    * Spark scale a job pins executor block-storage, so eviction is
    * mandatory here, manual via this method or automatic via
    * [[expireJobs]].)
    */
  def releaseJob(id: Long): Boolean = {
    val job = jobs.remove(id)
    if (job == null) return false
    job.unpersistAll()
    true
  }

  /** TTL sweep (scale extension; no reference analog — its sqlite job rows
    * cost nothing to keep, a Spark job's result cache does): release every
    * job that reached a terminal state more than `jobTtlMillis` ago.
    * Running jobs never expire — a slow first materialization must not be
    * evicted under its own pump. No-op when the API was built without a
    * TTL. Returns how many jobs were released. `now` is injectable for
    * tests; callers use the default.
    */
  def expireJobs(now: Long = System.currentTimeMillis()): Int =
    jobTtlMillis match {
      case None => 0
      case Some(ttl) =>
        var released = 0
        jobs.forEach { (id, job) =>
          val t = job.terminalAtMs
          if (t > 0L && now - t > ttl && releaseJob(id)) released += 1
        }
        released
    }

  def job(id: Long): Option[Job] = Option(jobs.get(id))

  /** Lookup that refuses unknown ids with a typed error — the in-process
    * analog of the reference's HTTP 404 (internal/web/Web.go:192-257), and
    * the guard that keeps stats/results/fieldStats from NPE-ing.
    */
  private def jobOrThrow(id: Long): Job = {
    val job = jobs.get(id)
    if (job == null) throw JobsApi.NoSuchJobException(id)
    job
  }

  /** EstimatedProgress (reference jobs.Stats, pkg/logsuck/jobs/Job.go:42-47):
    * completed / total tasks across the job group's Spark jobs via the
    * status tracker — live while a stats/results action runs on another
    * thread. 1 once the job left the Running state; 0 before any stage.
    */
  def estimatedProgress(id: Long): Float = {
    val job = jobs.get(id)
    if (job == null) return 0f
    if (job.stateRef != JobsApi.Running) return 1f
    val t = sc.statusTracker
    val stages = t.getJobIdsForGroup(groupId(id))
      .flatMap(j => t.getJobInfo(j).map(_.stageIds).getOrElse(Array.empty[Int]))
      .flatMap(sid => t.getStageInfo(sid))
    val total = stages.map(_.numTasks).sum
    if (total <= 0) 0f
    else math.min(1f, stages.map(_.numCompletedTasks).sum.toFloat / total)
  }

  /** jobStats (Web.go:192-218): state + A3 matched count + A2 distinct-value
    * count per field key. A job whose full stats pass completed is Finished
    * (the lazy-frame analog of the reference's pump draining): its stats
    * are done and every page is ready, gathered on the driver or pinned.
    * An aborted job (cancelled, or failed) reports aborted without
    * touching the cluster again.
    */
  def jobStats(id: Long): JobStats = {
    val job = jobOrThrow(id)
    if (job.stateRef == JobsApi.Aborted)
      return JobStats(JobsApi.Aborted, 0, Map.empty)
    val cached = job.statsCache
    if (cached != null) return cached // memoized: zero Spark jobs
    withJobGroup(job) {
      val (n, occ) = job.local.get match {
        case Some(all) => (all.rows.length.toLong, all.fieldCounts)
        case None =>
          // a large job: neither action re-runs the compiled query. The
          // count is the page index's last prefix entry (one pass over the
          // persisted results builds both), and the distinct-value agg
          // folds the persisted fieldStats aggregate. A job with a head
          // aggregates its match set, so its field stats go first, while
          // the page index is being built on the pump's other chain; other
          // jobs aggregate their results, pinned by the page index pass.
          val occFirst = if (job.hasHead) Some(job.fieldCounts.get) else None
          val n = job.index.get.starts.last
          val occ = occFirst.getOrElse(job.fieldCounts.get)
          job.releaseMatches()
          (n, occ)
      }
      if (job.markTerminal(JobsApi.Finished) || job.stateRef == JobsApi.Finished) {
        val stats = JobStats(JobsApi.Finished, n, occ)
        job.statsCache = stats
        stats
      } else JobStats(JobsApi.Aborted, 0, Map.empty)
    }
  }

  /** jobResults (Web.go:220-257): skip/take pagination over the sorted
    * result (O3). Events sorted newest-first (O1/O4 TimestampDesc);
    * surrounding keeps its own offset-desc order (SortModePreserveArgOrder);
    * tables keep declared column order.
    *
    * The page is served through the job's partition-offset index: only the
    * cached partitions overlapping [skip, skip+take) are read (a
    * one-stage, no-shuffle job of 1-2 tasks for page-sized takes), and
    * rows are sliced positionally inside them. The sort ran once at
    * materialization; its range partitioning IS the positional order, so
    * partition-index order + in-partition slice reproduces exactly the
    * offset+limit semantics without touching the skipped prefix.
    */
  def jobResults(id: Long, skip: Int, take: Int): DataFrame = {
    val job = jobOrThrow(id)
    require(skip >= 0 && take >= 0, s"skip/take must be non-negative ($skip, $take)")
    val starts = withJobGroup(job)(job.index.get).starts // may materialize the store
    val results = job.results.get
    val spark = results.sparkSession
    val lo = skip.toLong
    val rows =
      if (take == 0 || lo >= starts.last) spark.sparkContext.emptyRDD[Row]
      else JobsApi.slicePage(results.rdd, starts, lo, lo + take)
    spark.createDataFrame(rows, results.schema)
  }

  /** [[jobResults]] on the HTTP wire, for events and table jobs alike: the
    * page's rows as their final JSON strings, with the same ordering and
    * page boundaries as [[jobResults]]. Until a job with a head has its
    * whole result ready, a page within the first [[JobsApi.HeadRows]] rows
    * is a slice of [[Job#head]] (one top-k job, shared with the pump).
    * Otherwise a small job's page is a slice of [[Job#local]], with no
    * Spark job, and a large job's a one-stage partition-pruned job over
    * [[Job#rendered]]'s cached strings — never a per-page
    * DataFrame/plan/codegen.
    */
  def jobResultsWireJson(id: Long, skip: Int, take: Int): Array[String] = {
    val job = jobOrThrow(id)
    require(skip >= 0 && take >= 0, s"skip/take must be non-negative ($skip, $take)")
    val lo = skip.toLong
    val hi = lo + take
    withJobGroup(job) {
      if (job.hasHead && hi <= JobsApi.HeadRows && !job.pagesReady)
        JobsApi.slice(job.head.get, lo, hi)
      else job.local.get match {
        case Some(all) => JobsApi.slice(all.rows, lo, hi) // no Spark job
        case None =>
          val starts = job.index.get.starts // may materialize the store
          if (take == 0 || lo >= starts.last) Array.empty[String]
          else JobsApi.slicePage(job.rendered.get, starts, lo, hi).collect()
      }
    }
  }

  /** Keyset pagination (O2 — the reference's scan pages are keyset-anchored,
    * SqliteEventRepository.go:37,353): the page starts strictly AFTER the
    * last-seen (ts, doc_id) anchor in newest-first order, as a filter +
    * limit over the persisted results — O(page), where OFFSET pagination
    * still scans the skipped prefix. The anchor is total (doc_id breaks ts
    * ties), so pages are gap- and dup-free under any interleaving. Only
    * timestampDesc jobs have the total key; other sort modes page by
    * [[jobResults]] skip/take.
    */
  def jobResultsAfter(id: Long, lastTs: Timestamp, lastDocId: String,
      take: Int): DataFrame = {
    val job = keysetJob(id, take)
    withJobGroup(job)(job.index.get): Unit // may materialize the store
    pageAfter(job, lastTs, lastDocId, take)
  }

  /** [[jobResultsAfter]] on the HTTP wire: the page's events as their wire
    * JSON, rendered under the job's group.
    */
  def jobResultsAfterWireJson(id: Long, lastTs: Timestamp, lastDocId: String,
      take: Int): Array[String] = {
    val job = keysetJob(id, take)
    withJobGroup(job)(
      JobsApi.eventsWire(pageAfter(job, lastTs, lastDocId, take)).toJSON.collect())
  }

  /** The job a keyset page may be asked of; checked before any Spark work,
    * so a bad request does not end the job.
    */
  private def keysetJob(id: Long, take: Int): Job = {
    val job = jobOrThrow(id)
    require(job.sortMode == "timestampDesc",
      s"keyset pagination needs the (ts, doc_id) sort key; job ${job.id} sorts ${job.sortMode}")
    require(take >= 0, s"take must be non-negative ($take)")
    job
  }

  /** The keyset page as a lazy frame over the pinned results, its scan
    * pruned by the page index's first keys.
    */
  private def pageAfter(job: Job, lastTs: Timestamp, lastDocId: String,
      take: Int): DataFrame = {
    // Spark's java8 datetime rows carry LocalDateTime; the wire anchor is
    // a java.sql.Timestamp — normalize both to UTC LocalDateTime
    val anchorTs = java.time.LocalDateTime.ofInstant(
      lastTs.toInstant, java.time.ZoneOffset.UTC)
    // strictly-after predicate in the (ts desc, doc_id asc) result order
    def after(ts: java.time.LocalDateTime, docId: String): Boolean =
      ts.isBefore(anchorTs) || (ts.equals(anchorTs) && docId > lastDocId)
    val bounds = job.index.get.firstKeys
    val results = job.results.get
    val spark = results.sparkSession
    val schema = results.schema
    val n = bounds.length
    // Matches form a SUFFIX of the global order (the predicate is
    // "strictly after the anchor" in the total sort key), so the first
    // partition that can hold one is either the first whose FIRST row is
    // already after the anchor, or the non-empty partition just before it
    // (its tail can cross the anchor). The in-partition filter below still
    // applies the exact predicate, so the pruning only needs to be a
    // superset — it never decides correctness.
    val firstAfter = bounds.indexWhere(_.exists { case (t, d) => after(t, d) })
    val lo = if (firstAfter < 0) {
      val lastNonEmpty = bounds.lastIndexWhere(_.nonEmpty)
      if (lastNonEmpty < 0) n else lastNonEmpty // all-empty cache: nothing
    } else {
      val prev = bounds.lastIndexWhere(_.nonEmpty, firstAfter - 1)
      if (prev < 0) firstAfter else prev
    }
    if (take == 0 || lo >= n) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val tsIdx = schema.fieldIndex("ts")
      val didIdx = schema.fieldIndex("doc_id")
      // local copies: the task closure must capture values, not this Job
      val (anchorT, anchorDoc) = (anchorTs, lastDocId)
      val rows = PartitionPruningRDD.create(results.rdd, _ >= lo).mapPartitions(_.filter { r =>
        val t = JobsApi.rowLdt(r.get(tsIdx))
        t.isBefore(anchorT) || (t.equals(anchorT) && r.getString(didIdx) > anchorDoc)
      })
      // CollectLimit over the pruned RDD starts at the anchor's partition
      // and scales up only if the page isn't filled — O(touched
      // partitions) per page, however deep the anchor sits
      spark.createDataFrame(rows, schema).limit(take)
    }
  }

  /** jobFieldStats (Web.go:259-276): A1 occurrences for one field key —
    * a filter over the persisted per-job (key, value, occurrences) store.
    */
  def jobFieldStats(id: Long, field: String): DataFrame = {
    val job = jobOrThrow(id)
    job.fieldStatsCached.get
      .filter(col("key") === field)
      .select(col("value"), col("occurrences"))
  }

  /** [[jobFieldStats]] on the HTTP wire: at most `take` (value,
    * occurrences) pairs ordered by value. Top-occurrence values win the
    * cut, ties by value. A small job answers from [[Job#local]]; a large
    * one collects the cut from its aggregate under the job's group.
    */
  def jobFieldValues(id: Long, field: String, take: Int): Array[(String, Long)] = {
    val job = jobOrThrow(id)
    withJobGroup(job)(job.local.get match {
      case Some(all) => all.fieldValues(field, take)
      case None => jobFieldStats(id, field)
        .orderBy(col("occurrences").desc, col("value"))
        .limit(take)
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .sortBy(_._1)
    })
  }

  /** Persist a job's stores to `dir` — the cross-process analog of the
    * reference's job tables (plugins/sqlite_jobs/SqliteJobRepository.go
    * JobResults/JobFieldValues survive the process): the ordered results
    * (order pinned by an explicit `_pos` column), the field-stats
    * aggregate, and a one-row metadata table. Forces the stats pass first,
    * so an exported job is always a Finished snapshot.
    */
  def exportJob(id: Long, dir: String): Unit = {
    val job = jobOrThrow(id)
    val stats = jobStats(id)
    require(stats.state == JobsApi.Finished, s"cannot export a ${stats.state} job")
    withJobGroup(job) {
      // A small result written through the full cached partitioning is a
      // store of dozens of near-empty part files — size the store by row
      // count instead (the stats pass above already counted). Narrow
      // coalesce concatenates the cached partitions IN ORDER, so `_pos`
      // (partition-indexed monotonically_increasing_id, computed on either
      // side of the coalesce) still sorts back to the pinned cache order.
      val results = job.results.get
      val parts = math.max(1L, math.min(
        results.rdd.getNumPartitions.toLong,
        (stats.numMatchedEvents + JobsApi.StoreRowsPerFile - 1) /
          JobsApi.StoreRowsPerFile)).toInt
      // monotonically_increasing_id over the PINNED cache is a stable
      // order key (partition-indexed, and the cached partitions are fixed)
      results.withColumn("_pos", monotonically_increasing_id())
        .coalesce(parts)
        .write.mode("overwrite").parquet(s"$dir/results")
      job.fieldStatsCached.get.coalesce(parts).write.mode("overwrite").parquet(s"$dir/fieldstats")
      val spark = results.sparkSession
      import spark.implicits._
      Seq((job.query, job.sortMode, job.columnOrder, stats.numMatchedEvents))
        .toDF("query", "sort_mode", "column_order", "n_matched")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  /** Open an [[exportJob]] snapshot as a job in THIS process: pages, stats,
    * and field-stats serve from the written stores — stats launch zero new
    * Spark jobs (memoized from the metadata), results keep the exported
    * order, and a timestampDesc job keeps keyset pagination. The compiled
    * frame is gone by design: an imported job is a results snapshot, like
    * the reference loading job rows after a restart.
    */
  def importJob(spark: org.apache.spark.sql.SparkSession, dir: String): Job = {
    val meta = spark.read.parquet(s"$dir/meta").head()
    val query = meta.getAs[String]("query")
    val sortMode = meta.getAs[String]("sort_mode")
    val cols0 = meta.getSeq[String](meta.fieldIndex("column_order"))
    val results = spark.read.parquet(s"$dir/results")
      .orderBy(col("_pos")).drop("_pos")
    val frame: Frame =
      if (sortMode == "none") TableFrame(results, cols0)
      else EventsFrame(results)
    val job = new Job(nextId.getAndIncrement(), query, frame, sortMode, cols0,
      hasHead = false)
    job.fieldStatsOverride = Some(spark.read.parquet(s"$dir/fieldstats"))
    job.markTerminal(JobsApi.Finished): Unit
    job.statsCache = JobStats(JobsApi.Finished, meta.getAs[Long]("n_matched"),
      job.fieldCounts.get)
    jobs.put(job.id, job)
    job
  }
}

object JobsApi {
  val Running = "running"
  val Finished = "finished"
  val Aborted = "aborted"

  /** Target rows per part file in an [[JobsApi.exportJob]] store — sized so
    * a typical page-serving read touches one file, while a huge result
    * still splits across writers.
    */
  private[api] val StoreRowsPerFile = 1000000L

  /** Holders per cached plan, keyed as the CacheManager (shared by every
    * session) matches caches: two jobs with one query share each cache
    * entry, so only the last holder of a plan unpersists it. The count and
    * the cache change together under the map's per-key lock, and a
    * (un)pin is one hash lookup: a release stays O(frames).
    */
  private val pins = new java.util.concurrent.ConcurrentHashMap[LogicalPlan, Integer]()
  private def cacheKey(df: DataFrame): LogicalPlan = df.queryExecution.normalized.canonicalized

  private def pin(df: DataFrame): Unit =
    pins.compute(cacheKey(df), (_, n: Integer) => {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      Int.box(if (n == null) 1 else n + 1)
    }): Unit

  private def unpin(df: DataFrame): Unit =
    pins.computeIfPresent(cacheKey(df), (_, n: Integer) =>
      if (n > 1) Int.box(n - 1) else { df.unpersist(blocking = false); null }): Unit

  /** Row cap for a driver-held rendered result (Job.rendered): results at
    * or under it serve every page as an array slice with zero Spark jobs;
    * bigger results keep the executor-side partition-pruned path. ~200
    * B/row of JSON -> at most ~20 MB on the driver per job.
    */
  private[api] val LocalPageCacheMaxRows = 100000L

  /** Rows a job's head holds (Job.head): the pages a client asks for
    * first — the GUI's 25 rows, a 50-row API page — fit in it.
    */
  private[api] val HeadRows = 100

  /** Reference wire keys for events
    * (pkg/logsuck/events/Event.go:46-54).
    */
  private def eventWire: Seq[Column] = Seq(
    col("doc_id").as("Id"), col("raw").as("Raw"),
    col("ts").as("Timestamp"), col("host").as("Host"),
    col("source").as("Source"), col("source_id").as("SourceId"),
    col("fields").as("Fields"))

  private[api] def eventsWire(events: DataFrame): DataFrame = events.select(eventWire: _*)

  /** A small job's whole result ([[Job#local]]): every row's wire JSON in
    * page order, and how often each field `(key, value)` pair occurs.
    */
  private[api] final class Gathered(val rows: Array[String],
      occurrences: collection.Map[(String, String), Long]) {
    /** A2 of jobStats: distinct values per field key. */
    val fieldCounts: Map[String, Long] = occurrences.keys.groupMapReduce(_._1)(_ => 1L)(_ + _)

    /** [[JobsApi#jobFieldValues]]: the `take` top-occurrence values of
      * `field`, ties by value as Spark orders strings, then sorted by value.
      */
    def fieldValues(field: String, take: Int): Array[(String, Long)] =
      occurrences.iterator.collect { case ((k, v), n) if k == field => (v, n) }.toArray
        .sortWith { case ((v1, n1), (v2, n2)) =>
          n1 > n2 || n1 == n2 && utf8Compare(utf8(v1), utf8(v2)) < 0 }
        .take(take)
        .sortBy(_._1)
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  /** Spark's ascending string order: nulls first, then UTF-8 bytes (Java's
    * `String.compareTo` compares UTF-16 units, which differs beyond the BMP).
    */
  private def utf8Compare(a: UTF8String, b: UTF8String): Int =
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.binaryCompare(b)

  /** [[QueryEngine.newestFirst]]'s order over `(ts, doc_id)` keys: `ts`
    * descending with nulls last, then `doc_id` ascending.
    */
  private val NewestFirst: Ordering[(java.time.LocalDateTime, UTF8String)] = { (a, b) =>
    val byTs =
      if (a._1 == null) { if (b._1 == null) 0 else 1 }
      else if (b._1 == null) -1
      else b._1.compareTo(a._1)
    if (byTs != 0) byTs else utf8Compare(a._2, b._2)
  }

  /** One partition's share of [[gather]]. */
  private final case class Part(json: Array[String],
      keys: Array[(java.time.LocalDateTime, String)],
      occurrences: collection.Map[(String, String), Long])

  /** The one narrow pass of a small job: per partition, each row's wire JSON
    * (the render `toJSON` gives the same columns, so the same bytes), its
    * `(ts, doc_id)` key when `keyed`, and a partial `(key, value) ->
    * occurrences` count of [[QueryEngine.fieldPairs]]. The driver sorts a
    * keyed job's rows newest-first; other jobs keep partition order.
    */
  private[api] def gather(rows: DataFrame, frame: Frame, keyed: Boolean): Gathered = {
    val wire = frame match {
      case _: EventsFrame => eventWire
      case _: TableFrame => Seq(col("*"))
    }
    val keyCols = if (keyed) Seq(col("ts"), col("doc_id")) else Seq.empty
    val pass = rows.select(wire ++ (QueryEngine.fieldPairs(frame) +: keyCols): _*)
    val n = pass.schema.length - 1 - keyCols.length
    val wireSchema = org.apache.spark.sql.types.StructType(pass.schema.take(n))
    val timeZone = pass.sparkSession.conf.get("spark.sql.session.timeZone")
    val parts = pass.rdd.mapPartitions { it =>
      val render = Bridge.jsonRender(wireSchema, timeZone)
      val json = Array.newBuilder[String]
      val keys = Array.newBuilder[(java.time.LocalDateTime, String)]
      val occ = scala.collection.mutable.HashMap.empty[(String, String), Long]
      it.foreach { r =>
        json += render(Row.fromSeq(r.toSeq.take(n)))
        if (!r.isNullAt(n)) r.getSeq[Row](n).foreach { p =>
          val kv = (p.getString(0), p.getString(1))
          occ.update(kv, occ.getOrElse(kv, 0L) + 1)
        }
        if (keyed) keys += ((Option(r.get(n + 1)).map(rowLdt).orNull, r.getString(n + 2)))
      }
      Iterator(Part(json.result(), keys.result(), occ))
    }.collect()
    val all = parts.flatMap(_.json)
    val ordered =
      if (!keyed) all
      else { // a stable sort: rows of equal keys keep partition order
        val byKey = parts.flatMap(_.keys).map { case (t, d) => (t, utf8(d)) }
        all.zip(byKey).sortBy(_._2)(NewestFirst).map(_._1)
      }
    new Gathered(ordered, parts.flatMap(_.occurrences).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** A job's page index (Job.index): `starts` holds the prefix row starts
    * of the cached partitions (one more entry than partitions; the last is
    * the row count), `firstKeys` each partition's first (ts, doc_id), None
    * for an empty partition or a job not sorted timestampDesc.
    */
  private[api] final case class PageIndex(starts: Array[Long],
      firstKeys: Array[Option[(java.time.LocalDateTime, String)]])

  /** Rows [lo, hi) of a driver-held rendered result, clipped to its size. */
  private def slice(all: Array[String], lo: Long, hi: Long): Array[String] = {
    val n = all.length.toLong
    java.util.Arrays.copyOfRange(all, math.min(lo, n).toInt, math.min(hi, n).toInt)
  }

  /** Rows [lo, hi) of a job's cached results, by its partition-offset index
    * `starts`: only the partitions overlapping the range are read, and rows
    * are sliced positionally inside them.
    */
  private def slicePage[T: scala.reflect.ClassTag](rdd: RDD[T],
      starts: Array[Long], lo: Long, hi: Long): RDD[T] = {
    val touched = (0 until starts.length - 1)
      .filter(i => starts(i) < hi && starts(i + 1) > lo).toArray
    val touchedSet = touched.toSet
    PartitionPruningRDD.create(rdd, touchedSet.contains)
      .mapPartitionsWithIndex { (pi, it) =>
        val orig = touched(pi)
        val base = starts(orig)
        it.slice((math.max(base, lo) - base).toInt,
          (math.min(starts(orig + 1), hi) - base).toInt)
      }
  }

  /** Row timestamp normalization: Spark's java8 datetime API yields
    * LocalDateTime (TIMESTAMP_NTZ rows) but legacy configs yield
    * java.sql.Timestamp — keyset code compares in UTC LocalDateTime.
    */
  private[api] def rowLdt(v: Any): java.time.LocalDateTime = v match {
    case l: java.time.LocalDateTime => l
    // via the instant AT UTC — Timestamp.toLocalDateTime renders in the
    // JVM default zone, which would skew rows against the UTC anchor on
    // any non-UTC JVM (every comparison here is UTC wall-clock)
    case t: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
    case i: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    case other => throw new IllegalStateException(
      s"unexpected ts type: ${other.getClass}")
  }

  /** Unknown job id — the typed stand-in for the reference's 404 response
    * (internal/web/Web.go:192-257 looks the job up and errors the request).
    */
  final case class NoSuchJobException(id: Long)
    extends NoSuchElementException(s"no job with id $id")

  /** A computation asked of a job that was already aborted (cancelled, or
    * failed): the job computes nothing more.
    */
  final case class JobAbortedException(id: Long)
    extends IllegalStateException(s"job $id was aborted")

  /** Did this throwable originate from a job-group cancellation? Spark wraps
    * cancellations in SparkException chains whose messages carry
    * "cancelled"/"canceled" (either spelling appears across versions).
    */
  private[api] def isCancellation(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      val m = Option(t.getMessage).getOrElse("").toLowerCase
      if (m.contains("cancel") || t.isInstanceOf[InterruptedException] ||
          t.isInstanceOf[JobAbortedException]) return true
      t = t.getCause
    }
    false
  }
}
