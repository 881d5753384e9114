package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.{EventsFrame, QueryEngine}
import graft.sources.{DocsAdapter, EventsAdapter}
import graft.util.Artifacts.{DirArtifact, FileArtifact}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 through the
  * full engine (search-language parse -> Catalyst plan); `oracleSql` holds an
  * independent DuckDB recomputation from the same parquet tables. The rendered
  * log line is a pure function of the structured `events` columns
  * (EventsAdapter.RAW_SQL), so the oracle never depends on engine code.
  */
object SparkEntry {
  private type Q = (SparkSession, String) => DataFrame

  private def eng(s: SparkSession, dir: String): QueryEngine = EventsAdapter.engine(s, dir)

  // scratch dirs staged once per (kind, scale dir) within a process: the
  // full-text index, streaming inputs, raw log files, routed batches
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** A [[graft.util.Scratch]] dir of `kind` filled by `build` once per
    * (kind, dir); `build` gets the fresh dir and returns the path to serve.
    */
  private def staged(kind: String, dir: String)(build: String => String): String =
    stagedDirs.computeIfAbsent((kind, dir),
      _ => build(graft.util.Scratch.dir(kind).toString))

  /** Shared harness for the `q_stream_*` entries: stage the input once per
    * (`kind`, scale dir), hand the body fresh checkpoint + sink dirs at
    * shuffle-partitions=8, and ALWAYS tear down: stop the state-store
    * maintenance pool (its checkpoint is about to vanish) and delete both
    * scratch dirs immediately — the body must pin its result with an eager
    * localCheckpoint before returning, so nothing outlives the dirs.
    */
  private def withStreamScratch(s: SparkSession, kind: String, dir: String)(
      stage: String => Unit)(
      run: (String, String, String) => DataFrame): DataFrame = {
    val tmp = staged(kind, dir) { d => stage(d); d }
    val ckpt = graft.util.Scratch.dir("ckpt").toString
    val sink = graft.util.Scratch.dir("sink").toString
    val oldShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val oldNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // the trailing no-data micro-batch only advances the watermark (state
    // eviction); these AvailableNow runs discard their checkpoints right
    // after serving, and the update-mode delta sinks emit nothing from
    // eviction — the extra batch was a full state reload+commit across all
    // partitions for zero output rows
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try run(tmp, ckpt, sink)
    finally {
      s.conf.set("spark.sql.shuffle.partitions", oldShuffle)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", oldNoData)
      // the terminated query's state-store providers would otherwise fire
      // maintenance-unload failures minutes later (their checkpoint is
      // about to vanish below); the pool restarts lazily on the next query
      org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
      graft.util.Scratch.deleteRecursively(new java.io.File(ckpt))
      graft.util.Scratch.deleteRecursively(new java.io.File(sink))
    }
  }

  private val bucketedCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // Train-once artifacts (graft.util.Artifacts): each is built once per
  // corpus generation and published; every later serve, in this or a fresh
  // driver process, loads it instead of rebuilding.
  private[graft] val ivfArtifact =
    new FileArtifact("ivf", 1, "centroids", graft.ml.Similarity.centroidsCodec)
  private[graft] val bpeArtifact = new FileArtifact("bpe", 1, "merges", graft.ml.Bpe.mergesCodec)
  private[graft] val bloomArtifact =
    new FileArtifact("bloom", 1, "bloom", graft.ml.TextDedup.bloomCodec)
  private[graft] val bandIndexArtifact = new DirArtifact("bands", 1, "idx")
  private[graft] val pqArtifact = new FileArtifact("pq", 1, "books", graft.ml.Similarity.pqBooksCodec)
  // residual codebooks pair with the coarse quantizer they were trained
  // against, so the name carries both
  private[graft] val ivfPqArtifact =
    new FileArtifact("ivfpq", 1, "books", graft.ml.Similarity.pqBooksCodec)

  private[graft] def ivfCentroidsFor(s: SparkSession, dir: String,
      nCells: Int = 16): Array[Array[Float]] =
    ivfArtifact(dir, s"c$nCells")(
      graft.ml.Similarity.ivfCentroids(DocsAdapter.embeddings(s, dir), nCells))

  private[graft] def bpeMergesFor(s: SparkSession, dir: String,
      numMerges: Int = 200): Seq[(String, String)] =
    bpeArtifact(dir, s"m$numMerges")(
      graft.ml.Bpe.trainOn(DocsAdapter.docs(s, dir), numMerges))

  private[graft] def historyBloomFor(s: SparkSession, dir: String)
      : org.apache.spark.util.sketch.BloomFilter =
    bloomArtifact(dir)(
      graft.ml.TextDedup.buildHistoryBloom(
        DocsAdapter.augmentedDocs(s, dir)
          .filter(col("doc_id") < DocsAdapter.EXACT_SHIFT), 1L << 20))

  /** Parquet band index of the augmented corpus's history half. */
  private[graft] def bandIndexFor(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(bandIndexArtifact(dir)(tmp =>
      graft.ml.TextDedup.bandSigs(
        DocsAdapter.augmentedDocs(s, dir)
          .filter(col("doc_id") < DocsAdapter.NEAR_SHIFT))
        .write.mode("overwrite").parquet(tmp)))

  private[graft] def pqBooksFor(s: SparkSession, dir: String,
      m: Int = 8, kCodes: Int = 16): Array[Array[Array[Float]]] =
    pqArtifact(dir, s"m$m", s"k$kCodes")(
      graft.ml.Similarity.pqCodebooks(DocsAdapter.embeddings(s, dir), m, kCodes))

  private[graft] def ivfPqBooksFor(s: SparkSession, dir: String,
      nCells: Int = 16, m: Int = 8, kCodes: Int = 16): Array[Array[Array[Float]]] =
    ivfPqArtifact(dir, s"c$nCells", s"m$m", s"k$kCodes")(
      graft.ml.Similarity.ivfPqCodebooks(DocsAdapter.embeddings(s, dir),
        ivfCentroidsFor(s, dir, nCells), m, kCodes))

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0): the
    * full north-rule pipeline — tokens -> parse -> enrich -> per-sink
    * aggregate with row-set signatures.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.plans.LogPipeline.sinkSummary(
      graft.plans.LogPipeline.run(spark,
        EventsAdapter.sequences(spark, "/root/testdata/sf0.001"),
        EventsAdapter.configs))

  def queries: Map[String, Q] = Map(
    // P4 fragment filter (word-boundary, case-insensitive)
    "q_search_fragment" -> ((s, dir) =>
      eng(s, dir).run("error").df.select(col("doc_id"), col("raw"))),
    // P5 field predicates: = and !=
    "q_search_field" -> ((s, dir) =>
      eng(s, dir).run("userid=13 eventtype!=signup").df.select(col("doc_id"))),
    // P5 IN list
    "q_search_field_in" -> ((s, dir) =>
      eng(s, dir).run("userid IN (13, 14, 15)").df.select(col("doc_id"))),
    // P4/P5 wildcard fragments
    "q_search_wildcard" -> ((s, dir) =>
      eng(s, dir).run("eventtype=p*").df.select(col("doc_id"))),
    // NOT fragment
    "q_search_not" -> ((s, dir) =>
      eng(s, dir).run("userid=7 NOT signup").df.select(col("doc_id"))),
    // search-step time options (SearchPipelineStep.go:103-121): bounds
    // carried by the step itself, not the API params
    "q_search_timebound" -> ((s, dir) =>
      eng(s, dir).run(
        "| search startTime=\"2024-01-02T06:00:00Z\" endTime=\"2024-01-03T18:00:00Z\" error")
        .df.select(col("doc_id"))),
    // A3 matched-event count
    "q_count" -> ((s, dir) =>
      eng(s, dir).run("error").df.agg(count(lit(1)).as("n"))),
    // P7 rex ad-hoc extraction (original-case raw)
    "q_rex" -> ((s, dir) =>
      eng(s, dir).run("error | rex \"userId=(?P<uid>\\d+)\"").df
        .select(col("doc_id"), try_element_at(col("fields"), lit("uid")).as("uid"))),
    // P8 where (exact string equality on extracted fields)
    "q_where" -> ((s, dir) =>
      eng(s, dir).run("error | where userid=13").df.select(col("doc_id"))),
    // P9 table projection (ordered columns, missing -> "")
    "q_table" -> ((s, dir) =>
      eng(s, dir).run("error | table \"userid,eventtype,missing\"").df),
    // A1 field stats (explode fields -> groupBy key,value -> count)
    "q_fieldstats" -> ((s, dir) => {
      val e = eng(s, dir)
      e.fieldStats(e.run("error")).select(col("key"), col("value"), col("occurrences"))
    }),
    // A2 distinct-value count per key
    "q_fieldcount" -> ((s, dir) => {
      val e = eng(s, dir)
      e.fieldOccurrences(e.run("error"))
    }),
    // extension histogram: 1h tumbling window per source
    "q_histogram" -> ((s, dir) => {
      val e = eng(s, dir)
      e.histogram(e.run(""))
        .select(date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("source"), col("n"))
    }),
    // P10 surrounding context (two-sided top-k within source_id)
    "q_surrounding" -> ((s, dir) =>
      eng(s, dir).run("| surrounding count=6 eventId=50").df.select(col("doc_id"))),
    // inverted full-text index (FTS4 EventRaws analog): build postings,
    // multi-word AND prefilter through the index, full predicate re-check.
    // The index is built once per scale dir (it belongs to ingest, like the
    // reference's insert-time FTS updates); the query measures the lookup.
    "q_indexed_search" -> ((s, dir) => {
      val e = eng(s, dir)
      val idx = staged("ftindex", dir) { d =>
        graft.plans.FullTextIndex.build(e.events, d)
        d
      }
      graft.plans.FullTextIndex.search(s, e, idx, "performing error userid=13")
        .select(col("doc_id"))
    }),
    // O1 global sort newest-first + top-k
    "q_topk" -> ((s, dir) =>
      QueryEngine.newestFirst(eng(s, dir).run("eventtype=purchase")).limit(50)
        .select(col("doc_id"))),
    // S8 retention: drop events older than a cutoff
    "q_retention" -> ((s, dir) =>
      eng(s, dir).run("").df
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .select(col("doc_id"))),
    // O3 skip/take pagination of job results (Web.go:220-257)
    "q_pagination" -> ((s, dir) => {
      val e = eng(s, dir)
      val api = new graft.api.JobsApi(e)
      val job = api.startJob("eventtype IN (purchase, view)")
      api.jobResults(job.id, 100, 50).select(col("doc_id"))
    }),
    // O2 keyset pagination: the page anchored strictly after the 100th
    // row's (ts, doc_id) key — must equal OFFSET 100 LIMIT 50 of the same
    // newest-first order (the oracle recomputes it that way), while the
    // plan is a filter + limit over the persisted results, O(page)
    "q_keyset" -> ((s, dir) => {
      val api = new graft.api.JobsApi(eng(s, dir))
      val job = api.startJob("eventtype IN (purchase, view)")
      val anchor = api.jobResults(job.id, 99, 1).select(col("ts"), col("doc_id")).head()
      // the collected LocalDateTime is session-TZ (UTC) wall-clock; convert
      // through ZoneOffset.UTC, NOT Timestamp.valueOf (JVM default zone)
      val ts = java.sql.Timestamp.from(
        anchor.getAs[java.time.LocalDateTime](0).toInstant(java.time.ZoneOffset.UTC))
      api.jobResultsAfter(job.id, ts, anchor.getString(1), 50).select(col("doc_id"))
    }),
    // the REST surface (Web.go api/v1) end-to-end: the query runs behind
    // real HTTP — a loopback server over the engine, POST startJob, GET
    // jobResults pages until exhausted — and the result is rebuilt from
    // the wire JSON (EventWithExtractedFields keys). Must equal the
    // direct q_search_fragment scan row-for-row: the oracle is identical.
    "q_http" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val api = new graft.api.JobsApi(eng(s, dir))
      val http = new graft.api.HttpApi(api)
      val port = http.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def call(req: java.net.http.HttpRequest.Builder): String =
          client.send(req.build(),
            java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        def uri(pathQ: String) =
          java.net.URI.create(s"http://127.0.0.1:$port/api/v1$pathQ")
        val id = call(java.net.http.HttpRequest.newBuilder(
            uri("/startJob?searchString=error"))
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody())).trim.toLong
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val take = 500
        val rows = Iterator.from(0, take)
          .map(skip => mapper.readTree(call(java.net.http.HttpRequest.newBuilder(
            uri(s"/jobResults?jobId=$id&skip=$skip&take=$take")).GET()))
            .get("events"))
          .takeWhile(_.size() > 0)
          .flatMap(_.elements().asScala)
          .map(e => (e.get("Id").asText(), e.get("Raw").asText()))
          .toSeq
        import s.implicits._
        val df = rows.toDF("doc_id", "raw") // driver-local rows: safe to drop the job cache
        api.releaseJob(id): Unit
        df
      } finally http.stop()
    }),
    // O4 sort modes (events/Repository.go:23-29): a surrounding job keeps
    // its own arg order (SortModePreserveArgOrder = offset DESC,
    // SqliteEventRepository.go:400-430) and jobResults pagination slices
    // that order WITHOUT re-sorting. Order-sensitive oracle: position k is
    // read through the API as jobResults(skip=k, take=1), so the emitted
    // (pos, doc_id) pairs pin the exact result order, not just the set.
    "q_sortmode" -> ((s, dir) => {
      val e = eng(s, dir)
      val api = new graft.api.JobsApi(e)
      val job = api.startJob("| surrounding count=6 eventId=50")
      (0 until 6).map(k =>
        api.jobResults(job.id, k, 1)
          .select(lit(k).cast("long").as("pos"), col("doc_id")))
        .reduce(_ unionByName _)
    }),
    // S5 ingest dedup on (host, source, ts, offset)
    "q_dedup_ingest" -> ((s, dir) => {
      val ev = EventsAdapter.events(s, dir)
      ev.unionByName(ev).dropDuplicates("host", "source", "ts", "offset")
        .select(col("doc_id"))
    }),
    // full pipeline: tokens -> parse -> enrich(J2, memoized) -> per-sink
    // counts (A3, the north-rule per-sink aggregate invariant)
    "q_pipeline_sinkcounts" -> ((s, dir) => {
      val enriched = graft.plans.LogPipeline.run(
        s, EventsAdapter.sequences(s, dir), EventsAdapter.configs)
      enriched.groupBy(col("sink"), col("host")).agg(count(lit(1)).as("n"))
    }),
    // full pipeline: event-time re-derived from the rendered+extracted _time,
    // bucketed 1h per sink (the histogram extension over the tokens path)
    "q_pipeline_histogram" -> ((s, dir) => {
      val enriched = graft.plans.LogPipeline.run(
        s, EventsAdapter.sequences(s, dir), EventsAdapter.configs)
      graft.plans.LogPipeline.histogram(enriched)
        .select(date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
          col("sink"), col("n"))
    }),
    // full pipeline: routed rows with extracted fields surviving the
    // round-trip (doc_id, uid from tokens-rendered text)
    "q_pipeline_fields" -> ((s, dir) => {
      val enriched = graft.plans.LogPipeline.run(
        s, EventsAdapter.sequences(s, dir), EventsAdapter.configs)
      enriched.select(col("doc_id"),
        try_element_at(col("fields"), lit("userid")).as("userid"),
        try_element_at(col("fields"), lit("eventtype")).as("eventtype"))
    }),

    // S2 glob discovery + S3 event split over raw log FILES: the staged
    // files are rendered from the events table (one file per source, lines
    // in event_id order, trailing newline), so the DuckDB oracle recomputes
    // doc ids, raws, and byte offsets purely from the structured columns.
    // Staging is driver-side test plumbing; the operator under test is
    // TextIngest.readLogFiles (glob -> wholetext -> delimiter split).
    "q_ingest_split" -> ((s, dir) => {
      val logs = staged("ingest", dir) { dStr =>
        val d = java.nio.file.Paths.get(dStr)
        // Spark writes the staged files (no driver-side row collect): one
        // partition per source, rows in event order, then one file per
        // source=… partition dir. The driver only RENAMES the handful of
        // part files to their source names (metadata work, not data).
        val stagingDir = d.resolve("_staging").toString
        EventsAdapter.events(s, dir)
          .select(col("source"), col("raw").as("value"), col("offset"))
          .repartition(col("source"))
          .sortWithinPartitions("source", "offset")
          .drop("offset")
          .write.mode("overwrite").partitionBy("source").text(stagingDir)
        val dirs = Option(new java.io.File(stagingDir)
          .listFiles((f: java.io.File) => f.isDirectory && f.getName.startsWith("source=")))
          .getOrElse(Array.empty)
        dirs.foreach { sd =>
          // the exact inverse of Spark's partition-dir escaping (percent
          // escapes only — URLDecoder would additionally turn '+' into ' ')
          val srcName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(sd.getName.stripPrefix("source="))
          // usually one part file per source (one partition each), but a
          // non-default maxRecordsPerFile / file rolling may split it —
          // part names sort in row order within the partition, so
          // concatenating in filename order preserves the event order
          val parts = Option(sd.listFiles((_, n) => n.startsWith("part-")))
            .getOrElse(Array.empty).sortBy(_.getName)
          require(parts.nonEmpty, s"no staged part files under ${sd.getName}")
          if (parts.length == 1) {
            java.nio.file.Files.move(parts(0).toPath, d.resolve(srcName)): Unit
          } else {
            val out = java.nio.file.Files.newOutputStream(d.resolve(srcName))
            try parts.foreach(p => java.nio.file.Files.copy(p.toPath, out): Unit)
            finally out.close()
          }
        }
        dStr
      }
      graft.sources.TextIngest.readLogFiles(s, s"$logs/events-*.log")
        .select(col("doc_id"), col("raw"), col("source"), col("offset"))
    }),

    // Small-file compaction under the DuckDB gate: a two-batch routed
    // output (staged per dir — that part is ingest plumbing) is compacted
    // FRESH on every call (the operator under test: signature-gated rewrite
    // + atomic swap), then the query emits per-sink counts + an
    // order-independent row-set signature from the compacted store. The
    // oracle recomputes both from the events table in DuckDB — the rewrite
    // must preserve the exact row set per sink across engines.
    "q_compaction" -> ((s, dir) => {
      val routed = staged("routed", dir) { d =>
        val enriched = graft.plans.LogPipeline.run(
          s, EventsAdapter.sequences(s, dir), EventsAdapter.configs)
        // two micro-batch dirs, like streaming ingest accumulates (S7)
        graft.plans.LogPipeline.routeWrite(
          enriched.filter(col("offset") % 2 === 0), s"$d/routed/batch=0", 8)
        graft.plans.LogPipeline.routeWrite(
          enriched.filter(col("offset") % 2 === 1), s"$d/routed/batch=1", 8)
        s"$d/routed"
      }
      val out = graft.util.Scratch.dir("compact").toString
      try {
        graft.plans.CompactionJob.compact(s, routed, s"$out/compacted", targetRows = 50000L)
        // pin the tiny per-sink aggregate so the scratch store can go now
        spark_read_compacted(s, s"$out/compacted").localCheckpoint(eager = true)
      } finally graft.util.Scratch.deleteRecursively(new java.io.File(out))
    }),

    // bucketed storage layout: the events table written ONCE bucketed +
    // sorted by user_id, then per-user stats aggregate with ZERO exchanges
    // (the scan's bucketing IS the distribution — PlanSpec pins it). The
    // repeated-analytics disk-layout lever at 100 TB.
    "q_bucketed_stats" -> ((s, dir) => {
      // key the memo by SESSION too: unlike the sibling caches (which hold
      // session-independent filesystem paths) this one holds a catalog
      // table name, and the in-memory catalog dies with its session — a
      // fresh session must re-register, not trust a stale name
      val tbl = bucketedCache.computeIfAbsent(
          s"${System.identityHashCode(s)}|$dir", _ => {
        val d = graft.util.Scratch.dir("bucketed").toString
        val name = s"events_bucketed_${Integer.toHexString(dir.hashCode)}"
        graft.plans.BucketedStore.writeBucketed(
          s.read.parquet(s"$dir/events.parquet"), name, s"$d/tbl", buckets = 8)
        name
      })
      graft.plans.BucketedStore.userStats(s, tbl)
    }),

    // mixed-shape corpus (kv + access-combined + json): routing/enrich per
    // file type through the full pipeline — covers the access extractor and
    // the JSON parser path end-to-end (glob dispatch, per-config host)
    "q_pipeline_mixed_sinkcounts" -> ((s, dir) => {
      val enriched = graft.plans.LogPipeline.run(
        s, EventsAdapter.mixedSequences(s, dir), EventsAdapter.mixedConfigs)
      enriched.groupBy(col("sink"), col("host")).agg(count(lit(1)).as("n"))
    }),
    // mixed corpus, per-row parse fidelity: exact event time per layout
    // (kv micros / access second-truncation / UNIX_DECIMAL_NANOS quirk) and
    // one representative extracted field per shape, incl. the Go %f number
    // stringify on the JSON path
    "q_pipeline_mixed_fields" -> ((s, dir) => {
      val enriched = graft.plans.LogPipeline.run(
        s, EventsAdapter.mixedSequences(s, dir), EventsAdapter.mixedConfigs)
      enriched.select(col("doc_id"), col("sink"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("tss"),
        coalesce(
          try_element_at(col("fields"), lit("userid")),
          try_element_at(col("fields"), lit("status")),
          try_element_at(col("fields"), lit("level"))).as("f"),
        try_element_at(col("fields"), lit("eventid")).as("eventid"))
    }),

    // schema-on-read FIELD PROFILE over the mixed three-parser corpus: per
    // (source, key) events carried / distinct values / numeric-shaped —
    // the field-discovery admin panel; wire crosses distinct value CELLS
    "q_field_profile" -> ((s, dir) =>
      // the source parquet is ONE row group, so the scan is a single task
      // and the heavy map side (three-way parse + fields explode) ran
      // near-single-threaded; a doc_id hash redistribution right after the
      // cheap derivation restores the pre-split shape a real corpus has
      // (guide §2.5 input skew — measured 1.44 -> 0.92 s; the lighter
      // kv-only engine queries do NOT win from this, measured, so the
      // spread stays local to this query). On a pre-split corpus the
      // exchange is ~free relative to the parse it balances.
      graft.plans.LogPipeline.fieldProfile(graft.plans.LogPipeline.run(
        s, EventsAdapter.mixedSequences(s, dir)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        EventsAdapter.mixedConfigs))),
    // the LIVE face of the field profile: the stream maintains
    // (day, source, key, value) cells through the update-delta sink, and
    // the profile aggregates the SERVED cells — whole
    // stream->delta->serve->aggregate lifecycle under the same batch twin
    // (day-splitting changes no total: counts sum, values stay distinct)
    "q_stream_fieldprofile" -> ((s, dir) =>
      // staged 8-way (matching the harness's 8 stream shuffle partitions):
      // the source parquet is one row group, so a 1-file staging made every
      // micro-batch's parse+enrich+explode a ONE-task stage (guide §2 —
      // the map side of the stateful agg was serialized; same fix as the
      // q_stream_dedup shipments). Round-robin layout; every consumer
      // aggregates, so row placement changes nothing.
      withStreamScratch(s, "stream-mixed", dir)(d =>
        EventsAdapter.mixedSequences(s, dir).repartition(8)
          .write.mode("overwrite").parquet(d)) {
        (tmp, ckpt, sink) =>
          graft.streaming.StreamingPipeline.fieldCellsToSink(
            s, tmp, sink, ckpt, EventsAdapter.mixedConfigs).awaitTermination()
          graft.plans.LogPipeline.profileFromCells(
            graft.streaming.StreamingPipeline.servedFieldCells(s, sink))
            .localCheckpoint(eager = true)
      }),

    // ===== training-data pipeline operators (documents / embeddings) =====
    // exact dedup: md5-fingerprint keep-first
    "q_dedup_exact" -> ((s, dir) =>
      graft.ml.TextDedup.exact(DocsAdapter.augmentedDocs(s, dir))),
    // exact n-gram Jaccard pairs via prefix filtering (lossless candidate
    // pruning — AllPairs/PPJoin family; the oracle recomputes quadratically)
    "q_dedup_ngram" -> ((s, dir) =>
      graft.ml.TextDedup.ngramJaccardPairs(DocsAdapter.augmentedDocs(s, dir), 0.5)),
    // MinHash + LSH banding -> bucket join -> verified Jaccard (scale path)
    "q_dedup_minhash" -> ((s, dir) =>
      graft.ml.TextDedup.minhashLshPairs(DocsAdapter.augmentedDocs(s, dir), 0.5)),
    // near-dup CLUSTERS: connected components over the verified pair graph
    // (label propagation; oracle = recursive-CTE transitive closure)
    "q_dedup_clusters" -> ((s, dir) =>
      graft.ml.TextDedup.nearDupClusters(DocsAdapter.augmentedDocs(s, dir), 0.5)),
    // chunk-level dedup (C4-style repeated-span removal): drop every later
    // occurrence of a 20-word chunk corpus-wide, rebuild surviving text
    "q_dedup_chunks" -> ((s, dir) =>
      graft.ml.TextDedup.chunkDedup(DocsAdapter.augmentedDocs(s, dir))),
    // keep-best dedup ACTION: per near-dup cluster, the highest-quality
    // survivor via one argmax agg (oracle = rank-based definition)
    "q_cluster_rep" -> ((s, dir) =>
      graft.ml.TextDedup.clusterRepresentatives(
        DocsAdapter.augmentedDocs(s, dir), 0.5)),
    // per-source duplication inflation: docs vs distinct exact-hash texts
    // (two-phase distinct — wire carries unique texts, not documents)
    "q_dup_inflation" -> ((s, dir) =>
      graft.ml.TextDedup.dupInflation(DocsAdapter.augmentedDocs(s, dir))),
    // SimHash signatures (32-bit, bit-parallel vote)
    "q_simhash" -> ((s, dir) =>
      graft.ml.TextDedup.withSimhash(DocsAdapter.augmentedDocs(s, dir))
        .select(col("doc_id"), col("simhash"))),
    // embedding-cosine near-dup DEDUP: LSH-bucketed candidates + keep-first
    // survivors (the all-pairs exact form is a test-only baseline in MlSpec)
    "q_dedup_embedding" -> ((s, dir) =>
      graft.ml.Similarity.embeddingDedup(
        DocsAdapter.augmentedEmbeddings(s, dir), 0.999)),
    // brute-force cosine top-k (exact ANN baseline)
    "q_ann_topk" -> ((s, dir) =>
      graft.ml.Similarity.bruteForceTopK(DocsAdapter.embeddings(s, dir), 5, 10)),
    // token counting (whitespace + BPE-ish segmentation)
    "q_token_count" -> ((s, dir) =>
      graft.ml.TextAnalysis.tokenCounts(DocsAdapter.docs(s, dir))),
    // overlapping token-window chunking (RAG/packing prep): zero-exchange
    // generate, word array staged once per doc through the generator
    "q_chunking" -> ((s, dir) =>
      graft.ml.TextAnalysis.chunkWindows(DocsAdapter.docs(s, dir))),
    // token-budget epoch allocator: sqrt-damped INTEGER weights (BIGINT
    // normalizer — no float fold), one corpus agg, epochs per source
    "q_mix_epochs" -> ((s, dir) =>
      graft.ml.Sampling.mixEpochs(DocsAdapter.docs(s, dir), 10000000L)),
    // quality scoring (alpha/stopword/length bands)
    "q_quality" -> ((s, dir) =>
      graft.ml.TextAnalysis.qualityScore(DocsAdapter.docs(s, dir))),
    // language-ID marker heuristic
    "q_lang_id" -> ((s, dir) =>
      graft.ml.TextAnalysis.langId(DocsAdapter.docs(s, dir))),
    // CCNet-style unigram LM quality score (corpus-trained, add-one)
    "q_lm_score" -> ((s, dir) =>
      graft.ml.TextAnalysis.lmScore(DocsAdapter.docs(s, dir))),
    // CCNet perplexity partition: head/middle/tail thirds over lm_score,
    // cuts from the tiny 4-dp score histogram — never a global sort
    "q_ppl_buckets" -> ((s, dir) =>
      graft.ml.TextAnalysis.perplexityBuckets(DocsAdapter.docs(s, dir))),
    // document fingerprints (md5 + shared 64-bit int hash)
    "q_fingerprint" -> ((s, dir) =>
      graft.ml.TextAnalysis.fingerprints(DocsAdapter.docs(s, dir))),
    // winnowing (MOSS) fingerprints: window-min over the shingle hash
    // sequence — guaranteed detection of shared runs, zero-exchange plan
    "q_winnow" -> ((s, dir) =>
      graft.ml.TextDedup.winnow(DocsAdapter.docs(s, dir))),
    // MOSS detection join: pairs by shared-fingerprint count, hot-fp cap
    // inside the one fingerprint exchange (guaranteed recall vs LSH bands)
    "q_winnow_pairs" -> ((s, dir) =>
      graft.ml.TextDedup.winnowPairs(DocsAdapter.augmentedDocs(s, dir))),
    // cross-source duplication matrix: distinct shared winnow fps per
    // source pair (zero row == NO shared >= w+k-1-word run, by guarantee)
    "q_source_overlap" -> ((s, dir) =>
      graft.ml.TextDedup.sourceOverlap(DocsAdapter.docs(s, dir))),
    // repeated-token-run trimming in token space (keep-first maxRun);
    // position-weighted exact signature proves the full trimmed sequence
    "q_token_runs" -> ((s, dir) =>
      graft.ml.Packing.tokenRunTrim(DocsAdapter.tokenRunSeqs(s, dir))),
    // multimodal: binary payload + typed metadata through the mapPartitions
    // decode stub (metadata projection is the oracle-comparable part)
    "q_multimodal_meta" -> ((s, dir) =>
      graft.ml.Multimodal.mediaMeta(s, DocsAdapter.docs(s, dir))),
    // REAL sample decode: BMP pixel array (offset/padding/BGR), PCM, and
    // PNG via JDK zlib inflate + unfilter — stats computed from decoded
    // bytes, oracle recomputes them from the generation formulas
    "q_media_decode" -> ((s, dir) =>
      graft.ml.Multimodal.mediaDecode(s, DocsAdapter.docs(s, dir))),
    // deterministic stratified sampling (data-mixing weights per language)
    "q_sample_stratified" -> ((s, dir) =>
      graft.ml.Sampling.stratified(DocsAdapter.docs(s, dir), "lang",
        Map("en" -> 0.5, "zh" -> 1.0), 0.25).select(col("doc_id"))),
    // benchmark decontamination: n-gram overlap with the holdout set
    "q_contamination" -> ((s, dir) => {
      val docs = DocsAdapter.docs(s, dir)
      graft.ml.Contamination.flag(docs, graft.ml.Contamination.holdout(docs))
    }),
    // sequence packing: concat-then-chunk into fixed context windows
    "q_packing" -> ((s, dir) =>
      graft.ml.Packing.packWords(DocsAdapter.docs(s, dir), 512)),
    // PII redaction (emails/IPv4/phones) over the pii-injected corpus
    "q_pii_scrub" -> ((s, dir) =>
      graft.ml.TextCleaning.piiScrub(DocsAdapter.piiDocs(s, dir))),
    // Gopher-style repetition metrics (distinct ratio, top uni/bigram share)
    "q_repetition" -> ((s, dir) =>
      graft.ml.TextCleaning.repetitionMetrics(DocsAdapter.docs(s, dir))),
    // URL domain frequency (blocklist/provenance stats)
    "q_url_domains" -> ((s, dir) =>
      graft.ml.TextCleaning.domainStats(DocsAdapter.piiDocs(s, dir))),
    // URL canonicalization + keep-first dedup on the canonical key (the
    // crawl-pipeline step BEFORE content dedup): scheme/host case, www.,
    // default port, fragment, tracking params, param order and trailing
    // slashes all collapse
    "q_url_dedup" -> ((s, dir) =>
      graft.ml.TextCleaning.urlDedup(DocsAdapter.urlDocs(s, dir))),
    // HTML -> text extraction (the WET/WARC step upstream of every text
    // filter): block drops, break tags, entity decode, per-line whitespace
    "q_html_extract" -> ((s, dir) =>
      graft.ml.TextCleaning.htmlExtract(DocsAdapter.htmlDocs(s, dir))),
    // gap-based sessionization (native session_window aggregate: one
    // user_id shuffle + merging hash agg, streaming-ready)
    "q_sessionize" -> ((s, dir) =>
      graft.plans.Sessionize.sessions(
        s.read.parquet(s"$dir/events.parquet"), 1800)),
    // first-order Markov transition matrix over per-user event sequences
    // (one user-keyed window exchange; counts collapse to |types|^2 cells)
    "q_transitions" -> ((s, dir) =>
      graft.plans.EventAnalytics.transitions(
        s.read.parquet(s"$dir/events.parquet"))),
    // top within-session event paths (gaps-and-islands + stacked leads on
    // ONE user exchange; deterministic microsecond gap rule + k-cut)
    "q_session_paths" -> ((s, dir) =>
      graft.plans.EventAnalytics.sessionPaths(
        s.read.parquet(s"$dir/events.parquet"))),
    // LIVE template mining: the stream maintains the tokCells frame as
    // update-delta state; assembly over the SERVED cells is the current
    // template set — whole lifecycle under the batch mining twin
    "q_stream_templates" -> ((s, dir) =>
      // 8-way staging: see q_stream_fieldprofile — cells/templates are
      // layout-independent aggregates
      withStreamScratch(s, "stream-lines", dir)(d =>
        EventsAdapter.events(s, dir).select("source", "raw").repartition(8)
          .write.mode("overwrite").parquet(d)) { (tmp, ckpt, sink) =>
          graft.streaming.StreamingPipeline.templateCellsToSink(
            s, tmp, sink, ckpt).awaitTermination()
          graft.plans.LogTemplates.templatesFlatFromCells(
            graft.streaming.StreamingPipeline.servedTemplateCells(s, sink))
            .localCheckpoint(eager = true)
      }),
    // LIVE transitions via flatMapGroupsWithState: per-user last-event
    // state (ONE row/user) links pairs across batch/restart boundaries;
    // the served pair store aggregates to the same matrix as the batch op
    "q_stream_transitions" -> ((s, dir) =>
      // 8-way staging: safe for the stateful op too — all files land in
      // the single AvailableNow batch and flatMapGroupsWithState sorts
      // each group by (ts, event_id) before pairing, so file layout
      // cannot reorder transitions
      withStreamScratch(s, "stream-events", dir)(d =>
        s.read.parquet(s"$dir/events.parquet").repartition(8)
          .write.mode("overwrite").parquet(d)) { (tmp, ckpt, sink) =>
          graft.streaming.StreamingPipeline.transitionsToSink(
            s, tmp, sink, ckpt).awaitTermination()
          graft.plans.EventAnalytics.transitionStats(
            graft.streaming.StreamingPipeline.servedTransitionPairs(s, sink))
            .localCheckpoint(eager = true)
      }),
    // SLO trend panel: exact p50/p95/p99 of `value` per (event_type, day)
    // — the histogram-walk percentiles over a derived composite group
    // (window over value CELLS, never rows; no API change needed)
    "q_latency_trend" -> ((s, dir) =>
      graft.plans.Percentiles.byGroup(
        s.read.parquet(s"$dir/events.parquet").select(
          concat(col("event_type"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("grp"),
          col("value")),
        "grp", "value", Seq(0.5, 0.95, 0.99))),
    // C4 page-level heuristics (Raffel et al., JMLR'20 §2.2): line keep /
    // sentence-count / lorem / brace branches over structured pages
    "q_c4_filters" -> ((s, dir) =>
      graft.ml.TextCleaning.c4Filters(DocsAdapter.c4Docs(s, dir))),
    // `| stats` aggregation step (grouped count): the log-language
    // aggregator, Table-typed so `where`/job table serving compose
    "q_stats_step" -> ((s, dir) =>
      eng(s, dir).run("error | stats fn=count by=userid").df),
    // `| stats` with a summed field: try_cast to LONG — integer-exact,
    // no float accumulation order
    "q_stats_sum" -> ((s, dir) =>
      eng(s, dir).run("error | stats fn=sum field=userid").df),
    // the COMPOSED curation funnel: urlDedup -> htmlExtract -> c4+gopher
    // quality -> chunk dedup -> LM cutoff, emitting per-stage survivor
    // counts + survivor-set signatures; served in the ONE-PASS observed
    // form (stage counters ride a single linear plan as CollectMetrics —
    // the union form re-derives each stage's prefix per aggregate);
    // oracle = the same chain composed from the nested twins
    "q_funnel" -> ((s, dir) =>
      graft.ml.Funnel.curationFunnelOnePass(DocsAdapter.funnelDocs(s, dir))),
    // per-domain quota (Gopher/FineWeb source caps): WindowGroupLimit
    // keep-first-cap by deterministic hash within the URL domain
    "q_domain_quota" -> ((s, dir) =>
      graft.ml.TextCleaning.domainQuota(DocsAdapter.piiDocs(s, dir), cap = 10)),
    // boilerplate line removal by document frequency (CCNet shared-
    // paragraph scrub): template lines above maxDf dropped from EVERY doc
    "q_boilerplate" -> ((s, dir) =>
      graft.ml.TextCleaning.boilerplateScrub(DocsAdapter.boilerDocs(s, dir), maxDf = 2)),
    // corpus drift between snapshots (pre-mix distribution-shift check):
    // per-word KL(new||old) contributions, top-k — the pii-injected corpus
    // plays the "new crawl" whose added vocabulary must surface on top
    "q_corpus_drift" -> ((s, dir) =>
      graft.ml.TextAnalysis.corpusDrift(
        DocsAdapter.docs(s, dir), DocsAdapter.piiDocs(s, dir), k = 50)),
    // corpus-wide top-k trigram stats (boilerplate/decontamination analytics)
    "q_ngram_topk" -> ((s, dir) =>
      graft.ml.TextAnalysis.ngramTopK(DocsAdapter.docs(s, dir), n = 3, k = 50)),
    // fastText-style Naive Bayes quality classifier (GPT-3/LLaMA curation
    // step): trained on curated `source` labels, scored via fixed-point
    // log-ratios so per-doc sums are exact integers at any parallelism
    "q_quality_classifier" -> ((s, dir) =>
      graft.ml.TextAnalysis.qualityClassifier(DocsAdapter.docs(s, dir), ClfPosSources)),
    // training-shard export: deterministic md5-order global shuffle +
    // token-budget shard assignment via the two-phase prefix sum (never a
    // global-window sort)
    "q_shard_export" -> ((s, dir) =>
      graft.ml.Packing.shardExport(DocsAdapter.docs(s, dir), tokensPerShard = 4096)),
    // learned BPE tokenizer round-trip: histogram-trained merges (train-once
    // artifact), map-only encode, and the north rule's row-level
    // token-equality invariant — rejoining the tokens must reproduce the
    // normalized text, which the oracle recomputes independently
    "q_bpe_roundtrip" -> ((s, dir) => {
      val docs = DocsAdapter.docs(s, dir)
      graft.ml.Bpe.encode(s, docs, bpeMergesFor(s, dir))
        .select(col("doc_id"), col("decoded"))
    }),
    // Structured Streaming histogram through the SCALE-REAL serving mode:
    // watermarked windowed agg, UPDATE output into a per-batch delta file
    // sink (state evicts past the watermark; nothing accumulates on the
    // driver), then the latest-wins serving view — the oracle is the
    // equivalent batch SQL (streaming==batch parity through the sink).
    // The staged copy is per-dir cached (staging is test plumbing, not the
    // operator); checkpoint + state store + sink land on tmpfs when
    // available and the stateful shuffle is narrowed — the windowed-agg
    // state is tiny, so 32 state-store partitions were pure fixed overhead.
    "q_stream_histogram" -> ((s, dir) =>
      // 8-way staging: see q_stream_fieldprofile (histogram + anomaly
      // share this corpus; both aggregate, so layout changes nothing)
      withStreamScratch(s, "stream-seqs", dir)(d =>
        EventsAdapter.sequences(s, dir).repartition(8)
          .write.mode("overwrite").parquet(d)) {
        (tmp, ckpt, sink) =>
          graft.streaming.StreamingPipeline.histogramToSink(
            s, tmp, sink, ckpt, EventsAdapter.configs).awaitTermination()
          // fold the deltas into a base snapshot before serving — the whole
          // stream -> delta sink -> compact -> serve chain sits under the
          // batch-parity oracle (the compaction's own signature gate also
          // runs inside)
          graft.streaming.DeltaStore.histogram(sink).compact(s)
          graft.streaming.StreamingPipeline.servedHistogram(s, sink)
            .select(
              date_format(col("bucket_start"), "yyyy-MM-dd HH:mm:ss").as("bucket_start"),
              col("sink"), col("n"))
            // the serving view must outlive the scratch delta dirs (Verify
            // writes the frame after this function returns): pin the tiny
            // aggregate rows
            .localCheckpoint(eager = true)
      }),
    // live monitoring ON the serving path: the median/MAD anomaly rule
    // composes over the streaming histogram's merge-on-read view (same
    // stream -> delta sink -> compact -> serve chain, then flagCells);
    // the twin recomputes the rule from the batch histogram, so the whole
    // streaming lifecycle sits under the exactness gate
    "q_stream_anomaly" -> ((s, dir) =>
      graft.plans.Anomaly.flagCells(
        queries("q_stream_histogram")(s, dir), "sink", "n")),
    // S5 dedup insert on the STREAMING path: the corpus is shipped twice
    // as two files, forced into separate micro-batches
    // (maxFilesPerTrigger=1) — the second delivery is dropped entirely by
    // the stateful unique-key dedup (reference UNIQUE(host,source,ts,
    // offset) ON CONFLICT ignore), so the routed union equals the distinct
    // corpus. Scratch dirs per call; 8 state partitions like the histogram.
    "q_stream_dedup" -> ((s, dir) =>
      withStreamScratch(s, "stream-dedup", dir) { d =>
        // 4 files per shipment (was 1): a single-file shipment made each
        // micro-batch's parse a one-task scan — 4 files parallelize it
        // while maxFilesPerTrigger=4 below keeps exactly one shipment per
        // batch. Explicit mtimes 60 s apart make the file-source pickup
        // order deterministic (it orders by modification time), so the
        // second delivery still lands entirely in the second batch — the
        // cross-batch state-dedup story is unchanged.
        val seq = EventsAdapter.sequences(s, dir).repartition(4)
        seq.write.mode("overwrite").parquet(s"$d/copy1")
        seq.write.mode("overwrite").parquet(s"$d/copy2")
        val inDir = java.nio.file.Paths.get(d, "in")
        java.nio.file.Files.createDirectory(inDir): Unit
        Seq("copy1", "copy2").zipWithIndex.foreach { case (c, i) =>
          val parts = new java.io.File(s"$d/$c").listFiles()
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          parts.zipWithIndex.foreach { case (part, j) =>
            val dst = inDir.resolve(s"ship-$i-$j.parquet")
            java.nio.file.Files.copy(part.toPath, dst): Unit
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L)): Unit
          }
        }
      } { (tmp, ckpt, out) =>
        // saltBuckets matches the harness's 8 stream shuffle partitions:
        // 32 writer tasks per 100k-row micro-batch were pure scheduling
        // overhead + 4x the part files at this batch size
        graft.streaming.StreamingPipeline.ingestDedup(s, s"$tmp/in", out, ckpt,
          EventsAdapter.configs, horizon = "10 days", saltBuckets = 8,
          maxFilesPerTrigger = Some(4)).awaitTermination()
        s.read.parquet(out).select(col("doc_id"))
          .localCheckpoint(eager = true) // outlives the scratch dirs
      }),
    // streaming canonical-URL dedup: the urlDocs corpus is shipped TWICE
    // in forced-separate micro-batches (a re-crawl); the stateful
    // dropDuplicatesWithinWatermark on the canonical key must drop every
    // second-shipment URL via checkpointed STATE. The emitted (canon, n)
    // has n = 1 for every canonical URL precisely because the state dedup
    // worked — a failure would emit n = 2 rows and mismatch the twin.
    "q_stream_urldedup" -> ((s, dir) =>
      withStreamScratch(s, "stream-urldedup", dir) { d =>
        // two shipments of the same crawl, one minute apart in event time
        Seq("2024-01-01 00:00:00", "2024-01-01 00:01:00").zipWithIndex
          .foreach { case (t, i) =>
            DocsAdapter.urlDocs(s, dir)
              .withColumn("ts", lit(java.sql.Timestamp.valueOf(t)))
              .coalesce(1).write.mode("overwrite").parquet(s"$d/copy$i")
          }
        val inDir = java.nio.file.Paths.get(d, "in")
        java.nio.file.Files.createDirectory(inDir): Unit
        Seq("copy0", "copy1").zipWithIndex.foreach { case (c, i) =>
          val part = new java.io.File(s"$d/$c").listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.copy(part.toPath, inDir.resolve(s"ship-$i.parquet")): Unit
        }
      } { (tmp, ckpt, out) =>
        graft.streaming.StreamingPipeline.urlDedupStream(s, s"$tmp/in", out, ckpt,
          horizon = "10 days", maxFilesPerTrigger = Some(1)).awaitTermination()
        s.read.parquet(out).groupBy(col("canon")).agg(count(lit(1)).as("n"))
          .localCheckpoint(eager = true) // outlives the scratch dirs
      }),
    // LSH-bucketed ANN pairs (signature + banding replicated in the oracle;
    // recall additionally asserted against the exact baseline in MlSpec)
    "q_ann_lsh" -> ((s, dir) =>
      graft.ml.Similarity.lshNearDupPairs(
        DocsAdapter.augmentedEmbeddings(s, dir), 0.999)),
    // IVF-partitioned ANN (coarse quantizer + probed-cell exact rank); the
    // quantizer is a build-once artifact cached per corpus dir — the query
    // measures serving (assign + probe + rank), not index construction. The
    // oracle replicates the full index build; recall also vs brute force.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = DocsAdapter.embeddings(s, dir)
      graft.ml.Similarity.ivfTopK(emb, 5, 10,
        centroids = Some(ivfCentroidsFor(s, dir)))
    }),
    "q_simhash_pairs" -> ((s, dir) =>
      graft.ml.TextDedup.simhashPairs(DocsAdapter.augmentedDocs(s, dir), 6)),
    // PQ-ADC ANN (compressed-domain scan: stored side is m code bytes, the
    // query side carries its subspace-distance LUT on the broadcast);
    // codebooks are a build-once per-corpus artifact like the IVF quantizer
    "q_ann_pq" -> ((s, dir) => {
      val emb = DocsAdapter.embeddings(s, dir)
      graft.ml.Similarity.pqTopK(emb, 5, 10,
        codebooks = Some(pqBooksFor(s, dir)))
    }),
    // IVFADC: coarse probes prune the scan to nProbe cells, residual-PQ
    // codes give the compressed-domain distance within them; both models
    // served from build-once artifacts (shared coarse quantizer, residual
    // codebooks) — no build jobs at query time
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = DocsAdapter.embeddings(s, dir)
      graft.ml.Similarity.ivfPqTopK(emb, 5, 10,
        centroids = Some(ivfCentroidsFor(s, dir)),
        codebooks = Some(ivfPqBooksFor(s, dir)))
    }),
    // embedding-space clustering (IVF quantizer as k-means bucketing);
    // reuses the per-dir build-once centroids — serving is map-only
    "q_embed_clusters" -> ((s, dir) => {
      val emb = DocsAdapter.embeddings(s, dir)
      graft.ml.Similarity.embeddingClusters(emb, 16,
        centroids = Some(ivfCentroidsFor(s, dir)))
    }),
    // per-group embedding diversity (redundancy monitor): mean pairwise
    // cosine via the linear ||sum(u)||^2 identity — the oracle states the
    // quadratic all-pairs DEFINITION, so equality proves the identity
    "q_embed_diversity" -> ((s, dir) =>
      graft.ml.Similarity.diversityByGroup(DocsAdapter.embeddings(s, dir))),
    // SEMANTIC dedup (SemDeDup): cluster with the build-once quantizer,
    // keep-first within-cluster cosine near-dups — per-cell equi-joins,
    // never all-pairs; the oracle replicates the quantizer build + rule
    "q_semantic_dedup" -> ((s, dir) =>
      graft.ml.Similarity.semanticDedup(
        DocsAdapter.augmentedEmbeddings(s, dir), 0.999,
        centroids = Some(ivfCentroidsFor(s, dir)))),
    // temperature-scaled source mixing (T=2 scaled sampling): one tiny
    // per-source agg + broadcast join + deterministic hash filter
    "q_source_mix" -> ((s, dir) =>
      graft.ml.Sampling.temperatureMix(DocsAdapter.docs(s, dir), "lang")),
    // exact duplicate-substring spans (Lee et al. ACL'22 ExactSubstr as
    // distributed gram fingerprints + gaps-and-islands window merge)
    "q_dup_spans" -> ((s, dir) =>
      graft.ml.TextDedup.dupSpans(DocsAdapter.docs(s, dir))),
    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed-word
    // target/raw models from ONE conditional agg, broadcast bin scores,
    // deterministic Gumbel top-k selection of raw docs toward the target
    "q_dsir" -> ((s, dir) =>
      graft.ml.Sampling.dsirSelect(DocsAdapter.docs(s, dir),
        col("lang") === "en", k = 60)),
    // Gopher document-quality rules (published thresholds, map-only)
    "q_gopher_rules" -> ((s, dir) =>
      graft.ml.TextCleaning.gopherRules(DocsAdapter.c4Docs(s, dir))),
    // video frame sampling: a real ISO-BMFF sample table (stts/stss/stsz/
    // stsc/stco) synthesized per doc, parsed back OUT of the bytes, and
    // reduced to keyframes — the oracle recomputes the sample map from the
    // shared formulas incl. the closed-form header length
    "q_frame_sample" -> ((s, dir) =>
      graft.ml.Multimodal.videoFrameSample(s, DocsAdapter.docs(s, dir))),
    // ExactSubstr scrub: cut every duplicated >=L-token run; the tiny span
    // set joins back doc-keyed, the corpus text never shuffles
    "q_scrub_spans" -> ((s, dir) =>
      graft.ml.TextDedup.scrubDupSpans(DocsAdapter.augmentedDocs(s, dir))),
    // incremental ingest dedup: broadcast bloom gate (provably-new docs
    // pass map-only) + exact anti-join rescue of the positive sliver only;
    // the bloom is a build-once per-history artifact like the IVF quantizer
    "q_incr_dedup" -> ((s, dir) => {
      val aug = DocsAdapter.augmentedDocs(s, dir)
      graft.ml.TextDedup.incrementalDedup(
        aug.filter(col("doc_id") >= DocsAdapter.EXACT_SHIFT),
        aug.filter(col("doc_id") < DocsAdapter.EXACT_SHIFT),
        prebuilt = Some(historyBloomFor(s, dir)))
    }),
    // incremental NEAR-dup vs the corpus: batch bands probe the persisted
    // band-index artifact (corpus never re-shingles per batch); history
    // text re-read for the candidate sliver only via a semi-join prune
    "q_incr_minhash" -> ((s, dir) => {
      val aug = DocsAdapter.augmentedDocs(s, dir)
      graft.ml.TextDedup.incrementalNearDups(
        aug.filter(col("doc_id") >= DocsAdapter.NEAR_SHIFT),
        aug.filter(col("doc_id") < DocsAdapter.NEAR_SHIFT),
        0.5, prebuiltIndex = Some(bandIndexFor(s, dir)))
    }),
    // BM25 ranked retrieval (the ranked upgrade of the boolean search
    // steps): fixed-point per-term contributions -> exact integer per-doc
    // scores, deterministic top-k cut at any parallelism
    "q_bm25" -> ((s, dir) =>
      graft.ml.Retrieval.bm25TopK(DocsAdapter.docs(s, dir), Bm25Terms, k = 25)),
    // span-level decontamination: cut benchmark-overlapping runs out of the
    // training text (keep the page, lose the leak) — broadcast bench gram
    // set, islands over the contaminated sliver only
    "q_decontam_scrub" -> ((s, dir) =>
      graft.ml.Contamination.scrub(
        DocsAdapter.contamDocs(s, dir), DocsAdapter.benchDocs(s))),
    // leakage-free train/val split: the hash decision is made per NEAR-DUP
    // CLUSTER so a page and its near-copies land on the same side
    "q_split_leakfree" -> ((s, dir) =>
      graft.ml.Sampling.leakFreeSplit(
        DocsAdapter.augmentedDocs(s, dir), 0.5, valFrac = 0.125)),
    // per-(source, lang) dataset card: docs/tokens/bytes + corpus shares —
    // one cell-cardinality agg with map-side combine, totals on a 1-row
    // broadcast
    "q_dataset_card" -> ((s, dir) =>
      graft.ml.TextAnalysis.datasetCard(DocsAdapter.docs(s, dir))),
    // the `| bm25` PIPELINE step: ranked retrieval inside the query
    // language — search narrows, bm25 ranks the survivors and exposes the
    // score as a field; the score string round-trips to the exact rounded
    // double (Java shortest-repr), so the twin compares doubles
    "q_bm25_step" -> ((s, dir) =>
      eng(s, dir).run("error | bm25 k=20 \"error 13\"").df
        .select(col("doc_id"),
          try_element_at(col("fields"), lit("bm25")).cast("double").as("bm25"))),
    // TOKEN-SPACE decontamination over the input_hint payload shape
    // (tokens array<int>): eval sets leak as token subsequences; windows
    // hash map-only, the bench set rides a broadcast
    "q_token_contam" -> ((s, dir) =>
      graft.ml.Contamination.flagTokens(
        DocsAdapter.tokenSeqs(s, dir), DocsAdapter.tokenBench(s))),
    // heavy-hitter n-grams via Misra-Gries candidates + exact recount (the
    // web-scale path that never shuffles the distinct-gram table); the
    // self-check proves exactness or falls back to the exact aggregate, so
    // the twin is simply the exact top-k
    "q_ngram_topk_sketch" -> ((s, dir) =>
      graft.ml.TextAnalysis.ngramTopKSketch(DocsAdapter.docs(s, dir), n = 3, k = 50)),
    // AS-OF join: every event enriched with the config version live at its
    // timestamp (tag-and-union + one keyed window — never a range join);
    // the twin is DuckDB's NATIVE ASOF LEFT JOIN, so the green row proves
    // the union-window plan IS the as-of semantics
    "q_asof_enrich" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("event_type"), col("ts"))
      graft.plans.AsOfJoin.enrich(ev, EventsAdapter.configVersions(s),
          key = "event_type", ord = "ts",
          payload = Seq("cfg_version", "retention_days"))
        .select(col("event_id"), col("event_type"),
          col("cfg_version"), col("retention_days"))
    }),
    // exact per-type value percentiles from the (group, value) histogram —
    // cells cross the wire and the cumulative walk windows over CELLS,
    // never rows; type-1 rank rule so both engines agree bit-for-bit
    "q_percentiles" -> ((s, dir) =>
      graft.plans.Percentiles.byGroup(
        s.read.parquet(s"$dir/events.parquet"), "event_type", "value",
        Seq(0.5, 0.9, 0.99))),
    // hour-bucket count anomalies per event type: median/MAD Hampel flag,
    // integer-exact (two type-1 percentile walks over CELLS, never rows)
    "q_anomaly" -> ((s, dir) =>
      graft.plans.Anomaly.bucketCountAnomalies(
        s.read.parquet(s"$dir/events.parquet"))),
    // collocation mining: top-k word pairs by lift (the log-free PMI rank);
    // pairs generate per-row via higher-order functions, ONE pair exchange,
    // and both engines build the identical IEEE double so the raw-lift
    // ORDER BY agrees bit-for-bit
    "q_collocations" -> ((s, dir) =>
      graft.ml.CorpusStats.collocations(DocsAdapter.docs(s, dir))),
    // tokenizer sizing: smallest vocab covering 50/90/99% of token
    // occurrences — the cumulative walk runs over the COUNT-VALUE histogram
    // (cells), never over ranked tokens; closed-form inside tie-cells
    "q_vocab_coverage" -> ((s, dir) =>
      graft.ml.CorpusStats.vocabCoverage(DocsAdapter.tokenSeqs(s, dir))),
    // padding cost of sorted vs arrival batching over the token sequences;
    // global ranks come from the two-phase block prefix sum (blocks =
    // length values / doc_id ranges), the twin uses the naive global
    // row_number — the green row proves the two-phase rank IS the order
    "q_length_batches" -> ((s, dir) =>
      graft.ml.CorpusStats.lengthBatchCost(DocsAdapter.tokenSeqs(s, dir))),
    // host-graph PageRank, three damped power iterations entirely in
    // fixed-point BIGINT (contributions = pr div deg, damping = ·85 div
    // 100) — bit-exact across engines, one dst-keyed exchange per
    // iteration, rank/degree tables stay host-cardinality
    "q_pagerank" -> ((s, dir) =>
      graft.plans.LinkGraph.pagerank(
        graft.plans.LinkGraph.hostEdges(DocsAdapter.docs(s, dir)))),
    // per-doc TF-IDF keywords with the LINEAR idf N/df — the rational
    // score is the identical IEEE double on both engines, so the ranking
    // (incl. near-ties) agrees bit-for-bit; row_number<=k rewrites to
    // map-side WindowGroupLimit
    "q_keywords" -> ((s, dir) =>
      graft.ml.TextAnalysis.keywords(DocsAdapter.docs(s, dir))),
    // bigram-LM quality score: mean log10 p(b|a) under the corpus's own
    // add-one bigram model — the conditional upgrade of q_lm_score (word
    // ORDER now costs); same (doc,a,b,cnt) fold shape on both engines
    "q_bigram_lm" -> ((s, dir) =>
      graft.ml.TextAnalysis.bigramLmScore(DocsAdapter.docs(s, dir))),
    // Drain-style log template mining: one template per (source, token
    // count), wildcard = any position with >1 distinct token — a strict
    // integer rule, so the twin agrees bit-for-bit; the corpus collapses
    // map-side to distinct (group, pos, token) cells before the one exchange
    "q_log_templates" -> ((s, dir) =>
      graft.plans.LogTemplates.templatesFlat(EventsAdapter.events(s, dir))),
    // template assignment (log compression): every line -> its template +
    // wildcard params, reconstructing the line exactly; MAP-ONLY after the
    // template-dictionary broadcast (params slice the line's own array)
    "q_template_assign" -> ((s, dir) =>
      // single-row-group input -> one-task map side; the assign probe
      // (tokenize + template join per event) is heavy enough that a
      // doc_id redistribution wins (measured 1.05 -> 0.76 s; the
      // lighter template/pipeline maps do NOT win, measured, and stay
      // unspread). See q_field_profile for the full rationale.
      graft.plans.LogTemplates.assign(EventsAdapter.events(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))),
    // interval containment join: windows explode into covered days, events
    // equi-join on (type, day) + exact [start,end) filter — never a
    // nested-loop range join; the twin IS the native range predicate
    "q_interval_join" -> ((s, dir) =>
      graft.plans.IntervalJoin.eventsPerWindow(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("event_id").cast("string").as("doc_id"),
            col("event_type"), col("ts")),
        EventsAdapter.maintWindows(s))),
    // weekly cohort retention: first-seen week per user (one user-keyed
    // agg, exchange reused by the join back) -> distinct active users per
    // (cohort, week offset) cell, two-phase distinct
    "q_cohort_retention" -> ((s, dir) =>
      graft.plans.EventAnalytics.cohortRetention(
        s.read.parquet(s"$dir/events.parquet"))),
    // ROLLUP subtotals in one pass: (type, day) + per-type + grand totals
    // from a single partial-aggregated read, integer-only outputs
    "q_rollup" -> ((s, dir) =>
      graft.plans.EventAnalytics.rollupCounts(
        s.read.parquet(s"$dir/events.parquet"))),
    // template DRIFT: templates mined from the post-cut window that did
    // not exist before it — the new-structure alert; the adapter simulates
    // a deploy appending a field (retry=1) to some users' lines after the
    // cut, so the drift set is exactly the widened per-source templates
    "q_template_drift" -> ((s, dir) => {
      val lns = EventsAdapter.lines(s, dir)
      val cut = lit(DriftCut).cast("timestamp_ntz")
      graft.plans.LogTemplates.drift(
        lns.filter(col("ts") < cut).select("doc_id", "source", "raw"),
        lns.filter(col("ts") >= cut).select(col("doc_id"), col("source"),
          concat(col("raw"), when(pmod(col("user_id"), lit(5L)) === 0,
            lit(" retry=1")).otherwise(lit(""))).as("raw")))
    }),
    // ordered step-conversion funnel: earliest strictly-later event per
    // step (conditional-min recurrence), per-step reached-user counts;
    // each step's rows cross one user-keyed exchange
    "q_step_funnel" -> ((s, dir) =>
      graft.plans.EventAnalytics.stepFunnel(
        s.read.parquet(s"$dir/events.parquet"))),
    // rolling 7-day active users: the (user, day) explode into window-end
    // days + a two-phase distinct — no window function, no self-join; wire
    // cost = active-user-days x 7, independent of event volume
    "q_rolling_actives" -> ((s, dir) =>
      graft.plans.EventAnalytics.rollingActiveUsers(
        s.read.parquet(s"$dir/events.parquet"))),
    // range-ONLY containment join written DECLARATIVELY (no key at all —
    // the shape Spark plans as a nested-loop join): the injected
    // RangeJoinAsEquiJoin optimizer rule rewrites it to the day-bucketed
    // equi-join, so the user keeps the naive predicate and the planner
    // gets a hash join
    "q_range_only" -> ((s, dir) => {
      GraftExtensions.register(s)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id").cast("string").as("doc_id"), col("ts"))
      val w = EventsAdapter.maintWindows(s)
        .select("window_id", "start_ts", "end_ts")
      ev.join(w, ev("ts") >= w("start_ts") && ev("ts") < w("end_ts"))
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_events"),
          bit_xor(graft.ml.TextDedup.hash64Col(col("doc_id"))).as("sig"))
    })
  )

  /** The events relation rendered as mineable log lines — shared shape for
    * the template-mining twins (doc_id, source, raw).
    */
  private def eventLinesSql: String =
    s"(SELECT $DOC AS doc_id, $SRC AS source, $RAW AS raw FROM events)"

  /** Template-drift window cut + the simulated post-cut format change. */
  private[graft] val DriftCut = "2024-01-16 00:00:00"
  private def driftOldSql: String =
    s"""(SELECT $DOC AS doc_id, $SRC AS source, $RAW AS raw FROM events
       | WHERE ts < TIMESTAMP '$DriftCut')""".stripMargin.replace("\n", " ")
  private def driftNewSql: String =
    s"""(SELECT $DOC AS doc_id, $SRC AS source, $RAW ||
       | CASE WHEN user_id % 5 = 0 THEN ' retry=1' ELSE '' END AS raw
       | FROM events WHERE ts >= TIMESTAMP '$DriftCut')"""
      .stripMargin.replace("\n", " ")

  /** Fixed query for the BM25 oracle row: mixed-frequency corpus terms plus
    * one absent term (contributes nothing on both engines). Shared by the
    * Spark query and its twin so the term set can't diverge.
    */
  private[graft] val Bm25Terms: Seq[String] =
    Seq("window", "merge", "hash", "stream", "zebra")

  /** Per-sink count + cross-engine row-set signature over a compacted
    * store: bit_xor of the shared md5-based 64-bit doc_id hash (the
    * DuckDB-reproducible analog of CompactionJob's internal xxhash64 gate).
    */
  private def spark_read_compacted(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .groupBy(col("sink"))
      .agg(count(lit(1)).as("n"),
        bit_xor(graft.ml.TextDedup.hash64Col(col("doc_id"))).as("sig"))

  /** The "curated positive set" for the NB quality classifier — a fixed
    * quarter of the corpus's sources stands in for the reference corpora
    * (Wikipedia/books) a production classifier trains against. Shared by
    * the Spark query and its oracle so the label set can't diverge.
    */
  private[graft] val ClfPosSources: Seq[String] =
    Seq("src0", "src1", "src2", "src3", "src4")

  private val RAW = EventsAdapter.RAW_SQL
  private val SRC = EventsAdapter.SOURCE_SQL
  private val DOC = "CAST(event_id AS VARCHAR)"

  def oracleSql: Map[String, String] = Map(
    "q_search_fragment" ->
      s"SELECT $DOC AS doc_id, $RAW AS raw FROM events WHERE event_type = 'error'",
    "q_search_field" ->
      s"SELECT $DOC AS doc_id FROM events WHERE user_id = 13 AND event_type <> 'signup'",
    "q_search_field_in" ->
      s"SELECT $DOC AS doc_id FROM events WHERE user_id IN (13, 14, 15)",
    "q_search_wildcard" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type LIKE 'p%'",
    "q_search_not" ->
      s"SELECT $DOC AS doc_id FROM events WHERE user_id = 7 AND event_type <> 'signup'",
    "q_search_timebound" ->
      s"""SELECT $DOC AS doc_id FROM events WHERE event_type = 'error'
         | AND ts >= TIMESTAMP '2024-01-02 06:00:00' AND ts <= TIMESTAMP '2024-01-03 18:00:00'""".stripMargin.replace("\n", " "),
    "q_count" ->
      "SELECT count(*) AS n FROM events WHERE event_type = 'error'",
    "q_rex" ->
      s"SELECT $DOC AS doc_id, CAST(user_id AS VARCHAR) AS uid FROM events WHERE event_type = 'error'",
    "q_where" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type = 'error' AND user_id = 13",
    "q_table" ->
      "SELECT CAST(user_id AS VARCHAR) AS userid, event_type AS eventtype, '' AS missing FROM events WHERE event_type = 'error'",
    "q_fieldstats" ->
      s"""WITH f AS (
         |  SELECT 'eventtype' AS key, event_type AS value FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'userid', CAST(user_id AS VARCHAR) FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'eventid', CAST(event_id AS VARCHAR) FROM events WHERE event_type='error'
         |  UNION ALL SELECT '_time', strftime(ts, '%Y/%m/%d %H:%M:%S.%f') FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'host', 'host-' || (user_id % 4) FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'source', $SRC FROM events WHERE event_type='error'
         |) SELECT key, value, count(*) AS occurrences FROM f GROUP BY key, value""".stripMargin,
    "q_fieldcount" ->
      s"""WITH f AS (
         |  SELECT 'eventtype' AS key, event_type AS value FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'userid', CAST(user_id AS VARCHAR) FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'eventid', CAST(event_id AS VARCHAR) FROM events WHERE event_type='error'
         |  UNION ALL SELECT '_time', strftime(ts, '%Y/%m/%d %H:%M:%S.%f') FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'host', 'host-' || (user_id % 4) FROM events WHERE event_type='error'
         |  UNION ALL SELECT 'source', $SRC FROM events WHERE event_type='error'
         |) SELECT key, count(*) AS n_values FROM (SELECT DISTINCT key, value FROM f) GROUP BY key""".stripMargin,
    "q_histogram" ->
      s"SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start, $SRC AS source, count(*) AS n FROM events GROUP BY 1, 2",
    "q_indexed_search" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type = 'error' AND user_id = 13",
    "q_surrounding" ->
      s"""WITH base AS (SELECT $SRC AS sid, event_id AS base_off FROM events WHERE event_id = 50),
         |up AS (SELECT e.event_id FROM events e, base b WHERE $SRC = b.sid AND e.event_id <= b.base_off ORDER BY e.event_id DESC LIMIT 3),
         |down AS (SELECT e.event_id FROM events e, base b WHERE $SRC = b.sid AND e.event_id > b.base_off ORDER BY e.event_id ASC LIMIT 3)
         |SELECT CAST(event_id AS VARCHAR) AS doc_id FROM up UNION ALL SELECT CAST(event_id AS VARCHAR) FROM down""".stripMargin,
    "q_sortmode" ->
      s"""WITH base AS (SELECT $SRC AS sid, event_id AS base_off FROM events WHERE event_id = 50),
         |up AS (SELECT e.event_id FROM events e, base b WHERE $SRC = b.sid AND e.event_id <= b.base_off ORDER BY e.event_id DESC LIMIT 3),
         |down AS (SELECT e.event_id FROM events e, base b WHERE $SRC = b.sid AND e.event_id > b.base_off ORDER BY e.event_id ASC LIMIT 3),
         |surr AS (SELECT event_id FROM up UNION ALL SELECT event_id FROM down)
         |SELECT CAST(row_number() OVER (ORDER BY event_id DESC) - 1 AS BIGINT) AS pos,
         |  CAST(event_id AS VARCHAR) AS doc_id FROM surr""".stripMargin.replace("\n", " "),
    "q_topk" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type = 'purchase' ORDER BY ts DESC, $DOC LIMIT 50",
    "q_retention" ->
      s"SELECT $DOC AS doc_id FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'",
    "q_dedup_ingest" ->
      s"SELECT $DOC AS doc_id FROM events",
    "q_pagination" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type IN ('purchase', 'view') ORDER BY ts DESC, $DOC LIMIT 50 OFFSET 100",
    "q_keyset" ->
      s"SELECT $DOC AS doc_id FROM events WHERE event_type IN ('purchase', 'view') ORDER BY ts DESC, $DOC LIMIT 50 OFFSET 100",
    "q_http" ->
      s"SELECT $DOC AS doc_id, $RAW AS raw FROM events WHERE event_type = 'error'",
    "q_stream_dedup" ->
      s"SELECT $DOC AS doc_id FROM events",
    "q_pipeline_sinkcounts" ->
      s"SELECT regexp_replace($SRC, '[^A-Za-z0-9_-]', '_', 'g') AS sink, 'events-host' AS host, count(*) AS n FROM events GROUP BY 1",
    "q_compaction" ->
      s"""SELECT regexp_replace($SRC, '[^A-Za-z0-9_-]', '_', 'g') AS sink, count(*) AS n,
         | bit_xor(${graft.ml.TextDedup.hash64Sql(DOC)}) AS sig FROM events GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_bucketed_stats" ->
      graft.plans.BucketedStore.userStatsSql("events"),
    "q_pipeline_histogram" ->
      s"SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start, regexp_replace($SRC, '[^A-Za-z0-9_-]', '_', 'g') AS sink, count(*) AS n FROM events GROUP BY 1, 2",
    "q_pipeline_fields" ->
      s"SELECT $DOC AS doc_id, CAST(user_id AS VARCHAR) AS userid, event_type AS eventtype FROM events",
    "q_field_profile" ->
      EventsAdapter.FIELD_PROFILE_SQL,
    // the streaming lifecycle lands under the SAME batch twin: day-window
    // cell splitting changes no (source, key) total
    "q_stream_fieldprofile" ->
      EventsAdapter.FIELD_PROFILE_SQL,
    "q_ingest_split" ->
      s"""SELECT $SRC || '-' || (row_number() OVER (PARTITION BY $SRC ORDER BY event_id) - 1) AS doc_id,
         | $RAW AS raw, $SRC AS source,
         | CAST(COALESCE(SUM(len($RAW) + 1) OVER (PARTITION BY $SRC ORDER BY event_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
         | FROM events""".stripMargin.replace("\n", " "),
    "q_pipeline_mixed_sinkcounts" ->
      s"""SELECT ${EventsAdapter.MIXED_SINK_SQL} AS sink, ${EventsAdapter.MIXED_HOST_SQL} AS host,
         | count(*) AS n FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q_pipeline_mixed_fields" ->
      s"""SELECT CAST(event_id AS VARCHAR) AS doc_id,
         | ${EventsAdapter.MIXED_SINK_SQL} AS sink,
         | strftime(${EventsAdapter.MIXED_TS_SQL}, '%Y-%m-%d %H:%M:%S.%f') AS tss,
         | CASE WHEN event_id % 3 = 0 THEN CAST(user_id AS VARCHAR)
         |      WHEN event_id % 3 = 1 THEN CAST(200 + (user_id % 4) * 100 AS VARCHAR)
         |      ELSE (CASE WHEN user_id % 5 = 0 THEN 'warn' ELSE 'info' END) END AS f,
         | CASE WHEN event_id % 3 = 0 THEN CAST(event_id AS VARCHAR)
         |      WHEN event_id % 3 = 2 THEN printf('%.6f', CAST(event_id AS DOUBLE))
         |      ELSE NULL END AS eventid
         | FROM events""".stripMargin.replace("\n", " "),
    "q_dedup_exact" ->
      graft.ml.TextDedup.exactSql(DocsAdapter.augmentedDocsSql()),
    "q_dedup_ngram" ->
      graft.ml.TextDedup.ngramJaccardPairsSql(DocsAdapter.augmentedDocsSql(), 0.5),
    "q_dedup_minhash" ->
      graft.ml.TextDedup.minhashLshPairsSql(DocsAdapter.augmentedDocsSql(), 0.5),
    "q_dedup_clusters" ->
      graft.ml.TextDedup.nearDupClustersSql(DocsAdapter.augmentedDocsSql(), 0.5),
    "q_dedup_chunks" ->
      graft.ml.TextDedup.chunkDedupSql(DocsAdapter.augmentedDocsSql()),
    "q_cluster_rep" ->
      graft.ml.TextDedup.clusterRepresentativesSql(DocsAdapter.augmentedDocsSql(), 0.5),
    "q_dup_inflation" ->
      graft.ml.TextDedup.dupInflationSql(DocsAdapter.augmentedDocsSql()),
    "q_simhash" ->
      s"SELECT doc_id, ${graft.ml.TextDedup.simhashSqlExpr("text")} AS simhash FROM ${DocsAdapter.augmentedDocsSql()}",
    "q_dedup_embedding" ->
      graft.ml.Similarity.embeddingDedupSql(DocsAdapter.augmentedEmbeddingsSql(), 0.999),
    "q_ann_topk" ->
      graft.ml.Similarity.bruteForceTopKSql("embeddings", 5, 10),
    "q_token_count" ->
      graft.ml.TextAnalysis.tokenCountsSql("documents"),
    "q_chunking" ->
      graft.ml.TextAnalysis.chunkWindowsSql("documents"),
    "q_mix_epochs" ->
      graft.ml.Sampling.mixEpochsSql("documents", 10000000L),
    "q_quality" ->
      graft.ml.TextAnalysis.qualityScoreSql("documents"),
    "q_lang_id" ->
      graft.ml.TextAnalysis.langIdSql("documents"),
    "q_lm_score" ->
      graft.ml.TextAnalysis.lmScoreSql("documents"),
    "q_ppl_buckets" ->
      graft.ml.TextAnalysis.perplexityBucketsSql("documents"),
    "q_fingerprint" ->
      graft.ml.TextAnalysis.fingerprintsSql("documents"),
    "q_winnow" ->
      graft.ml.TextDedup.winnowSql("documents"),
    "q_winnow_pairs" ->
      graft.ml.TextDedup.winnowPairsSql(DocsAdapter.augmentedDocsSql()),
    "q_source_overlap" ->
      graft.ml.TextDedup.sourceOverlapSql("documents"),
    "q_token_runs" ->
      graft.ml.Packing.tokenRunTrimSql(DocsAdapter.tokenRunSeqsSql()),
    "q_multimodal_meta" ->
      graft.ml.Multimodal.mediaMetaSql("documents"),
    "q_media_decode" ->
      graft.ml.Multimodal.mediaDecodeSql("documents"),
    "q_sample_stratified" ->
      ("SELECT doc_id FROM (" +
        graft.ml.Sampling.stratifiedSql("documents", "lang",
          Map("en" -> 0.5, "zh" -> 1.0), 0.25) + ")"),
    "q_contamination" ->
      graft.ml.Contamination.flagSql("documents",
        graft.ml.Contamination.holdoutSql("documents")),
    "q_packing" ->
      graft.ml.Packing.packWordsSql("documents", 512),
    "q_pii_scrub" ->
      graft.ml.TextCleaning.piiScrubSql(DocsAdapter.piiDocsSql()),
    "q_repetition" ->
      graft.ml.TextCleaning.repetitionMetricsSql("documents"),
    "q_url_domains" ->
      graft.ml.TextCleaning.domainStatsSql(DocsAdapter.piiDocsSql()),
    "q_url_dedup" ->
      graft.ml.TextCleaning.urlDedupSql(DocsAdapter.urlDocsSql()),
    "q_stream_urldedup" ->
      s"""SELECT canon, CAST(1 AS BIGINT) AS n FROM (SELECT DISTINCT canon
         | FROM (${graft.ml.TextCleaning.urlDedupSql(DocsAdapter.urlDocsSql())}))""".stripMargin.replace("\n", " "),
    "q_html_extract" ->
      graft.ml.TextCleaning.htmlExtractSql(DocsAdapter.htmlDocsSql()),
    "q_sessionize" ->
      graft.plans.Sessionize.sessionsSql("events", 1800),
    "q_transitions" ->
      graft.plans.EventAnalytics.transitionsSql("events"),
    "q_session_paths" ->
      graft.plans.EventAnalytics.sessionPathsSql("events"),
    // the lifecycle lands under the batch twin: single-delivery ordering
    // makes the state-linked pair stream equal the re-sorted batch pairs
    "q_stream_transitions" ->
      graft.plans.EventAnalytics.transitionsSql("events"),
    // streaming mining serves the SAME template set the batch twin mines
    // (cumulative cells, newest-wins) — one oracle for both lifecycles
    "q_stream_templates" ->
      graft.plans.LogTemplates.templatesSql(eventLinesSql),
    "q_latency_trend" ->
      graft.plans.Percentiles.byGroupSql(
        "(SELECT event_type || '|' || strftime(ts, '%Y-%m-%d') AS grp, value FROM events)",
        "grp", "value", Seq(0.5, 0.95, 0.99)),
    "q_c4_filters" ->
      graft.ml.TextCleaning.c4FiltersSql(DocsAdapter.c4DocsSql()),
    "q_funnel" ->
      graft.ml.Funnel.curationFunnelSql(DocsAdapter.funnelDocsSql()),
    "q_domain_quota" ->
      graft.ml.TextCleaning.domainQuotaSql(DocsAdapter.piiDocsSql(), cap = 10),
    "q_boilerplate" ->
      graft.ml.TextCleaning.boilerplateScrubSql(DocsAdapter.boilerDocsSql(), maxDf = 2),
    "q_corpus_drift" ->
      graft.ml.TextAnalysis.corpusDriftSql("documents", DocsAdapter.piiDocsSql(), k = 50),
    "q_ngram_topk" ->
      graft.ml.TextAnalysis.ngramTopKSql("documents", n = 3, k = 50),
    "q_quality_classifier" ->
      graft.ml.TextAnalysis.qualityClassifierSql("documents", ClfPosSources),
    "q_shard_export" ->
      graft.ml.Packing.shardExportSql("documents", tokensPerShard = 4096),
    "q_bpe_roundtrip" ->
      s"SELECT doc_id, ${graft.ml.TextDedup.normalizeSql("text")} AS decoded FROM documents",
    "q_stream_histogram" ->
      s"SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start, regexp_replace($SRC, '[^A-Za-z0-9_-]', '_', 'g') AS sink, count(*) AS n FROM events GROUP BY 1, 2",
    "q_stream_anomaly" ->
      graft.plans.Anomaly.flagCellsSql(
        s"(SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start, regexp_replace($SRC, '[^A-Za-z0-9_-]', '_', 'g') AS sink, count(*) AS n FROM events GROUP BY 1, 2)",
        "sink", "n", Seq("bucket_start")),
    "q_ann_lsh" ->
      graft.ml.Similarity.lshNearDupPairsSql(DocsAdapter.augmentedEmbeddingsSql(), 0.999),
    "q_ann_ivf" ->
      graft.ml.Similarity.ivfTopKSql("embeddings", 5, 10),
    "q_ann_pq" ->
      graft.ml.Similarity.pqTopKSql("embeddings", 5, 10),
    "q_ann_ivfpq" ->
      graft.ml.Similarity.ivfPqTopKSql("embeddings", 5, 10),
    "q_simhash_pairs" ->
      graft.ml.TextDedup.simhashPairsSql(DocsAdapter.augmentedDocsSql(), 6),
    "q_embed_clusters" ->
      graft.ml.Similarity.embeddingClustersSql("embeddings", 16),
    "q_embed_diversity" ->
      graft.ml.Similarity.diversityByGroupSql("embeddings"),
    "q_semantic_dedup" ->
      graft.ml.Similarity.semanticDedupSql(
        "embeddings", DocsAdapter.augmentedEmbeddingsSql(), 0.999),
    "q_source_mix" ->
      graft.ml.Sampling.temperatureMixSql("documents", "lang"),
    "q_dup_spans" ->
      graft.ml.TextDedup.dupSpansSql("documents"),
    "q_dsir" ->
      graft.ml.Sampling.dsirSelectSql("documents", "lang = 'en'", k = 60),
    "q_gopher_rules" ->
      graft.ml.TextCleaning.gopherRulesSql(DocsAdapter.c4DocsSql()),
    "q_frame_sample" ->
      graft.ml.Multimodal.videoFrameSampleSql("documents"),
    "q_scrub_spans" ->
      graft.ml.TextDedup.scrubDupSpansSql(DocsAdapter.augmentedDocsSql()),
    "q_incr_dedup" ->
      graft.ml.TextDedup.incrementalDedupSql(
        s"(SELECT * FROM ${DocsAdapter.augmentedDocsSql()} WHERE doc_id >= ${DocsAdapter.EXACT_SHIFT})",
        s"(SELECT * FROM ${DocsAdapter.augmentedDocsSql()} WHERE doc_id < ${DocsAdapter.EXACT_SHIFT})"),
    "q_incr_minhash" ->
      graft.ml.TextDedup.incrementalNearDupsSql(
        s"(SELECT * FROM ${DocsAdapter.augmentedDocsSql()} WHERE doc_id >= ${DocsAdapter.NEAR_SHIFT})",
        s"(SELECT * FROM ${DocsAdapter.augmentedDocsSql()} WHERE doc_id < ${DocsAdapter.NEAR_SHIFT})",
        0.5),
    "q_bm25" ->
      graft.ml.Retrieval.bm25TopKSql("documents", Bm25Terms, k = 25),
    "q_decontam_scrub" ->
      graft.ml.Contamination.scrubSql(
        DocsAdapter.contamDocsSql(), DocsAdapter.benchDocsSql()),
    "q_split_leakfree" ->
      graft.ml.Sampling.leakFreeSplitSql(
        DocsAdapter.augmentedDocsSql(), 0.5, valFrac = 0.125),
    "q_dataset_card" ->
      graft.ml.TextAnalysis.datasetCardSql("documents"),
    "q_bm25_step" ->
      s"""SELECT doc_id, bm25 FROM (${graft.ml.Retrieval.bm25TopKSql(
        s"(SELECT $DOC AS doc_id, $RAW AS text FROM events WHERE event_type = 'error')",
        Seq("error", "13"), k = 20)})""".stripMargin.replace("\n", " "),
    "q_stats_step" ->
      """SELECT CAST(user_id AS VARCHAR) AS userid,
        | CAST(count(*) AS VARCHAR) AS "count"
        | FROM events WHERE event_type = 'error'
        | GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_stats_sum" ->
      """SELECT CAST(sum(user_id) AS VARCHAR) AS sum_userid
        | FROM events WHERE event_type = 'error'""".stripMargin.replace("\n", " "),
    "q_token_contam" ->
      graft.ml.Contamination.flagTokensSql(
        DocsAdapter.tokenSeqsSql(), DocsAdapter.tokenBenchSql()),
    "q_ngram_topk_sketch" ->
      graft.ml.TextAnalysis.ngramTopKSql("documents", n = 3, k = 50),
    "q_asof_enrich" ->
      s"""SELECT e.event_id, e.event_type, v.cfg_version, v.retention_days
         |FROM events e ASOF LEFT JOIN ${EventsAdapter.configVersionsSql()} v
         |ON e.event_type = v.event_type AND e.ts >= v.ts""".stripMargin.replace("\n", " "),
    "q_percentiles" ->
      graft.plans.Percentiles.byGroupSql("events", "event_type", "value",
        Seq(0.5, 0.9, 0.99)),
    "q_anomaly" ->
      graft.plans.Anomaly.bucketCountAnomaliesSql("events"),
    "q_collocations" ->
      graft.ml.CorpusStats.collocationsSql("documents"),
    "q_vocab_coverage" ->
      graft.ml.CorpusStats.vocabCoverageSql(DocsAdapter.tokenSeqsSql()),
    "q_length_batches" ->
      graft.ml.CorpusStats.lengthBatchCostSql(DocsAdapter.tokenSeqsSql()),
    "q_pagerank" ->
      graft.plans.LinkGraph.pagerankSql(
        graft.plans.LinkGraph.hostEdgesSql("documents")),
    "q_keywords" ->
      graft.ml.TextAnalysis.keywordsSql("documents"),
    "q_bigram_lm" ->
      graft.ml.TextAnalysis.bigramLmScoreSql("documents"),
    "q_log_templates" ->
      graft.plans.LogTemplates.templatesSql(eventLinesSql),
    "q_template_assign" ->
      graft.plans.LogTemplates.assignSql(eventLinesSql),
    "q_interval_join" ->
      graft.plans.IntervalJoin.eventsPerWindowSql(
        s"(SELECT $DOC AS doc_id, event_type, ts FROM events)",
        EventsAdapter.maintWindowsSql()),
    "q_cohort_retention" ->
      graft.plans.EventAnalytics.cohortRetentionSql("events"),
    "q_rollup" ->
      graft.plans.EventAnalytics.rollupCountsSql("events"),
    "q_template_drift" ->
      graft.plans.LogTemplates.driftSql(driftOldSql, driftNewSql),
    "q_step_funnel" ->
      graft.plans.EventAnalytics.stepFunnelSql("events"),
    "q_rolling_actives" ->
      graft.plans.EventAnalytics.rollingActiveUsersSql("events"),
    "q_range_only" ->
      s"""SELECT w.window_id, count(*) AS n_events,
         |  bit_xor(${graft.ml.TextDedup.hash64Sql(DOC)}) AS sig
         |FROM ${EventsAdapter.maintWindowsSql()} w JOIN events e
         |  ON e.ts >= w.start_ts AND e.ts < w.end_ts
         |GROUP BY w.window_id""".stripMargin.replace("\n", " ")
  )
}
