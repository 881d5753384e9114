package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{Schemas, SourceConfig}
import graft.plans.LogPipeline

/** Structured Streaming face of the pipeline (reference ingest dataflow,
  * SURVEY.md §2.7): the file-tail + batch-flush machinery of the reference
  * (FileWatcher 1s poll, 5000/1s channel flush) collapses into Spark's file
  * source + micro-batch triggers; at-least-once + idempotent-insert becomes
  * checkpointed exactly-once.
  */
object StreamingPipeline {

  /** Streaming ingest: watch `inputDir` for new sequence parquet files,
    * parse -> enrich -> salted fan-out write per sink. The streaming
    * checkpoint tracks processed input files (the "offsets"); a restart with
    * the same checkpoint processes only new files — the streaming twin of
    * RouteJob's lineage manifests.
    *
    * Exactly-once: each micro-batch overwrites its OWN directory
    * (`batch=<id>/sink=.../`), keyed by the checkpointed batchId — a batch
    * replayed after a mid-write crash lands in the same place instead of
    * appending duplicates. (A blind `append` here would only be
    * at-least-once; the reference plays the same trick with its
    * UNIQUE-constraint dedup insert, SqliteEventRepository.go:33-35.)
    */
  def ingest(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, configs: Seq[SourceConfig],
      saltBuckets: Int = 32,
      trigger: Trigger = Trigger.AvailableNow(),
      indexDir: Option[String] = None): StreamingQuery =
    ingestReloading(spark, inputDir, outDir, checkpointDir, () => configs,
      saltBuckets, trigger, indexDir)

  /** [[ingest]] with HOT-RELOADED configs: `configsProvider` is evaluated
    * once per micro-batch, so an edited config file (new sources, changed
    * extractors or time layouts) takes effect at the next batch boundary
    * without restarting the query — the Spark-idiomatic analog of the
    * reference's config watcher (GlobWatcherCoordinator /
    * plugins/filereader/FileWatcher.go re-resolving while tailing). A batch
    * boundary is also the only sound switch point under exactly-once:
    * every row of batch N is parsed under one config snapshot, and a
    * crash-replay of batch N re-reads the file — re-parsing under the
    * NEWEST config, exactly like the reference re-reading after a restart.
    */
  def ingestReloading(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, configsProvider: () => Seq[SourceConfig],
      saltBuckets: Int = 32,
      trigger: Trigger = Trigger.AvailableNow(),
      indexDir: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream
      .schema(Schemas.sequences)
      .parquet(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val enriched = LogPipeline.run(batch.sparkSession, batch, configsProvider())
        routeBatch(enriched, outDir, batchId, saltBuckets)
        // maintain the inverted full-text index at ingest time, like the
        // reference inserts into FTS4 EventRaws alongside Events (S5);
        // same per-batch-id idempotence as the row write
        indexDir.foreach { d =>
          graft.plans.FullTextIndex.build(enriched, s"$d/batch=$batchId", saltBuckets)
        }
      }
      .start()
  }

  /** [[LogPipeline.routeWrite]] of one micro-batch into its own
    * `batch=<id>/` dir. A batch that routes no row (all of it late or
    * duplicate) writes a dir holding only `_SUCCESS`, from which no reader
    * can infer a schema, so that dir is removed again: one listing, no
    * Spark job.
    */
  private def routeBatch(batch: DataFrame, outDir: String, batchId: Long,
      saltBuckets: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir/batch=$batchId")
    LogPipeline.routeWrite(batch, dir.toString, saltBuckets)
    val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(dir).exists(_.getPath.getName.startsWith("sink=")))
      fs.delete(dir, true): Unit
  }

  /** [[ingest]] plus the reference's ingest-time duplicate rejection made
    * streaming-real: the reference's events table carries
    * UNIQUE(host, source, timestamp, offset) with conflict-ignoring
    * inserts (SqliteEventRepository.go:33-35,56), so a re-shipped event
    * (rotated file re-read, replayed shipper) is dropped no matter which
    * ingest pass carries it. Here that is a stateful
    * `dropDuplicatesWithinWatermark` on exactly the reference's unique
    * key: cross-BATCH duplicates within the `horizon` are dropped by
    * checkpointed state, and — unlike the reference's ever-growing unique
    * index — state is BOUNDED by the watermark horizon, which at 10^12
    * rows is the re-ingest window you actually need, not the corpus.
    * Crash-replay of a batch stays idempotent through the per-batch-id
    * overwrite, same as [[ingest]].
    *
    * '''Loss window — read before sizing `horizon`.''' The watermark that
    * bounds the dedup state also DROPS rows, duplicate or not, whose event
    * time trails the max seen time by more than `horizon`: a host that
    * ships logs after an outage longer than the horizon loses those events
    * on this path, where the reference's conflict-ignore insert would have
    * kept them. That is the price of bounded state — size `horizon` to the
    * ingest SLA (the longest outage after which a shipper may still
    * deliver), not to the duplicate window alone, and run
    * [[reconcileLate]] after any outage that may have exceeded it: the
    * batch anti-join repair lands every dropped-but-new event exactly once.
    *
    * Stream-side work is parse + enrich of only the dedup-key + payload +
    * sink columns (the `fields` map never enters the stateful plan); the
    * salted fan-out runs per micro-batch.
    */
  def ingestDedup(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, configs: Seq[SourceConfig],
      horizon: String = "2 hours",
      saltBuckets: Int = 32,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(Schemas.sequences)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n): Unit)
    val deduped = LogPipeline.routedRows(LogPipeline.enrichStatic(
        LogPipeline.parse(reader.parquet(inputDir)), configs))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("host", "source", "ts", "offset")
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        routeBatch(batch, outDir, batchId, saltBuckets)
      }
      .start()
  }

  /** Streaming canonical-URL dedup — the crawl-ingest twin of
    * [[graft.ml.TextCleaning.urlDedup]], built exactly like [[ingestDedup]]:
    * map-only canonicalization on the stream side
    * ([[graft.ml.TextCleaning.urlCanonicalCol]]), then a stateful
    * `dropDuplicatesWithinWatermark` on the canonical key. State is
    * bounded by the watermark horizon — at crawl scale that is the
    * re-crawl window's distinct URLs, not the whole frontier. The same
    * loss-window caveat as [[ingestDedup]] applies (a URL first seen more
    * than `horizon` after the max watermark time is dropped, not
    * deduplicated — see that scaladoc), and the same per-batch-id
    * overwrite keeps crash-replay idempotent.
    */
  def urlDedupStream(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, horizon: String = "2 hours",
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("ts", TimestampType)))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n): Unit)
    val deduped = reader.parquet(inputDir)
      .withColumn("canon", graft.ml.TextCleaning.urlCanonicalCol(col("url")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("canon")
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
  }

  /** Batch repair for [[ingestDedup]]'s watermark loss window: any
    * genuinely-new event the stream dropped for arriving more than
    * `horizon` late is found by an exact anti-join of the (deduplicated)
    * input against the routed store's UNIQUE key, and appended under its
    * own `batch=<lateBatchId>` directory — exactly once, with the same
    * sink routing as the stream. Run it after an outage that may have
    * exceeded the horizon (the scaladoc above documents when).
    *
    * Scale shape: point `inputDir` at the suspect slice of input (the
    * files shipped around the outage), not the corpus — the cost is
    * O(slice) + a 4-key-column column-pruned scan of the routed store.
    * The anti-join's store side projects ONLY the key columns; token
    * payloads never shuffle. The repaired sliver is persisted (it is by
    * definition small) so the count and the write share one computation.
    *
    * Returns how many missed events were appended.
    */
  def reconcileLate(spark: SparkSession, inputDir: String, outDir: String,
      configs: Seq[SourceConfig],
      lateBatchId: String = s"late-${System.currentTimeMillis()}",
      saltBuckets: Int = 32): Long = {
    val lateDir = s"batch=$lateBatchId"
    require(LogPipeline.isBatchDir(lateDir),
      s"late batch id $lateBatchId is not late-<letters, digits, _ or ->")
    val parsed = LogPipeline.routedRows(LogPipeline.enrichStatic(
        LogPipeline.parse(spark.read.parquet(inputDir)), configs))
      // in-slice duplicates collapse first, mirroring the stream's
      // in-batch + stateful dedup on the same unique key
      .dropDuplicates("host", "source", "ts", "offset")
    val existingKeys = spark.read.parquet(outDir)
      .select("host", "source", "ts", "offset")
    val missed = parsed
      .join(existingKeys, Seq("host", "source", "ts", "offset"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = missed.count()
      if (n > 0)
        LogPipeline.routeWrite(missed, s"$outDir/$lateDir", saltBuckets)
      n
    } finally missed.unpersist(blocking = false): Unit
  }

  /** The watermarked windowed aggregation behind [[histogramToSink]]:
    * tumbling `bucket` window per sink, late data beyond `watermark`
    * dropped, state for closed windows evicted once the watermark passes.
    */
  private def histogramAgg(spark: SparkSession, inputDir: String,
      configs: Seq[SourceConfig], bucket: String, watermark: String): DataFrame = {
    val stream = spark.readStream
      .schema(Schemas.sequences)
      .parquet(inputDir)
    LogPipeline.enrichStatic(LogPipeline.parse(stream), configs)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), bucket), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_start"), col("sink"), col("n"))
  }

  /** Scale-real histogram serving (SURVEY.md §2.7): UPDATE-mode output into
    * the [[DeltaStore.histogram]] store — each micro-batch writes only the
    * windows it CHANGED (cumulative counts) into its own delta dir. Nothing
    * accumulates on the driver, and the watermark EVICTS closed-window
    * state (update mode re-emits a window on change, so dropping its state
    * after the watermark passes loses nothing — late rows beyond the
    * watermark are dropped before the aggregation either way). Serving
    * reads the store newest-wins via [[servedHistogram]];
    * [[DeltaStore.compact]] folds old deltas into a base snapshot.
    */
  def histogramToSink(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, configs: Seq[SourceConfig],
      bucket: String = "1 hour", watermark: String = "2 hours",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    DeltaStore.histogram(outDir).start(
      histogramAgg(spark, inputDir, configs, bucket, watermark), checkpointDir, trigger)

  /** Merge-on-read over [[histogramToSink]]'s store: the latest batch that
    * touched a (bucket_start, sink) window carries its cumulative count, so
    * newest-wins per window reconstructs the full histogram.
    */
  def servedHistogram(spark: SparkSession, outDir: String): DataFrame =
    DeltaStore.histogram(outDir).served(spark)

  /** Streaming schema-on-read field cells: the stream maintains
    * (day window, source, key, value) occurrence counts — the state behind
    * a LIVE field-discovery panel (`LogPipeline.fieldProfile` is its batch
    * face; the profile aggregates the served cells). Update-mode deltas
    * into the [[DeltaStore.fieldCells]] store.
    *
    * Scale shape: state is CELL-cardinality per open day window — the same
    * "a field's wire cost is its information content" argument as the batch
    * profile, and the watermark evicts closed windows, so a perpetual
    * stream holds only the recent days' distinct (source, key, value)
    * triples, never event-scale state.
    */
  def fieldCellsToSink(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, configs: Seq[SourceConfig],
      window: String = "1 day", watermark: String = "2 hours",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(Schemas.sequences)
      .parquet(inputDir)
    DeltaStore.fieldCells(outDir).start(
      LogPipeline.enrichStatic(LogPipeline.parse(stream), configs)
        .withWatermark("ts", watermark)
        .select(col("ts"), col("source"),
          explode(col("fields")).as(Seq("key", "value")))
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
          col("source"), col("key"), col("value"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("source"),
          col("key"), col("value"), col("n")),
      checkpointDir, trigger)
  }

  /** Merge-on-read over [[fieldCellsToSink]]'s store. */
  def servedFieldCells(spark: SparkSession, outDir: String): DataFrame =
    DeltaStore.fieldCells(outDir).served(spark)

  /** LIVE template mining: the stream maintains exactly
    * `LogTemplates.tokCells` — distinct (source, len, pos, token)
    * occurrence counts — as update-mode state into the
    * [[DeltaStore.templateCells]] store; `LogTemplates.templatesFromCells`
    * over the served cells IS the current template set (and template DRIFT
    * alerts fall out of diffing two serve points). State equals the
    * corpus's distinct-token content — the same irreducible-information
    * bound the batch probe measures (the mining index being built, not an
    * overhead), cumulative by design: template discovery is
    * corpus-lifetime, so no watermark applies.
    */
  def templateCellsToSink(spark: SparkSession, inputDir: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("source", StringType, nullable = false),
      StructField("raw", StringType, nullable = false)))
    DeltaStore.templateCells(outDir).start(
      graft.plans.LogTemplates.tokCells(
        spark.readStream.schema(schema).parquet(inputDir)),
      checkpointDir, trigger)
  }

  /** Merge-on-read over [[templateCellsToSink]]'s store. */
  def servedTemplateCells(spark: SparkSession, outDir: String): DataFrame =
    DeltaStore.templateCells(outDir).served(spark)

  // ------------------------------------------- arbitrary-state transitions

  private[graft] case class UserEvent(user_id: Long,
      ts: java.time.LocalDateTime, event_id: Long, event_type: String)
  private[graft] case class LastEvent(micros: Long, event_id: Long,
      event_type: String)
  private[graft] case class TransitionPair(from_type: String, to_type: String)

  private def microsOf(ts: java.time.LocalDateTime): Long =
    ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ts.getNano / 1000L

  /** LIVE event-type transitions via ARBITRARY streaming state
    * (`flatMapGroupsWithState` — the custom-state API the windowed aggs
    * can't express): per user the state is exactly ONE row — the last seen
    * (time, event_id, type) — and each micro-batch emits the transition
    * pairs linking the carried state through the batch's time-ordered new
    * events, including the pair that SPANS the batch/restart boundary.
    * Pairs append into the [[DeltaStore.transitionPairs]] store
    * (exactly-once under replay); `EventAnalytics.transitionStats` over the served pairs is the
    * live matrix, and equals the batch [[graft.plans.EventAnalytics.transitions]]
    * whenever each user's events arrive time-ordered across batches (the
    * file-tail delivery order; out-of-order arrivals are the documented
    * difference — the batch face re-sorts history, a live matrix cannot).
    *
    * Scale shape: state is user-cardinality (one small row each, the
    * natural bound for "last thing this user did"); each batch shuffles
    * only its own events once on user_id.
    */
  def transitionsToSink(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // NB per-batch memory: a group's NEW events materialize on one executor
    // for the in-batch sort (state itself stays one row/user). Under
    // AvailableNow over a deep backlog, cap the batch with
    // maxFilesPerTrigger so a hot user's per-batch slice stays bounded —
    // the carried state links pairs across the split batches losslessly.
    val reader = spark.readStream.schema(Schemas.eventsRaw)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m): Unit)
    val events = reader
      .parquet(inputDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[UserEvent]
    DeltaStore.transitionPairs(outDir).start(
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[LastEvent, TransitionPair](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[UserEvent], state: GroupState[LastEvent]) =>
            val sorted = rows.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              val types = state.getOption.map(_.event_type).toSeq ++
                sorted.map(_.event_type)
              val last = sorted.last
              state.update(LastEvent(microsOf(last.ts), last.event_id,
                last.event_type))
              types.sliding(2).collect {
                case Seq(a, b) => TransitionPair(a, b)
              }
            }
        },
      checkpointDir, trigger)
  }

  /** All transition pairs the stream has emitted (append store — every
    * delta counts; replayed batches overwrote their own dir).
    */
  def servedTransitionPairs(spark: SparkSession, outDir: String): DataFrame =
    DeltaStore.transitionPairs(outDir).served(spark)
}
