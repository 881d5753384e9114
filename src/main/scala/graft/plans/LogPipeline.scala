package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.model.SourceConfig

/** The parse -> enrich -> route -> aggregate pipeline over the pre-tokenized
  * sequences table (BASELINE.json north rule).
  *
  * Stage mapping (SURVEY.md §7.0):
  *   parse     — render tokens -> raw, extract dynamic fields, derive ts
  *               (reference P1-P3); tokens carried untouched (per-row
  *               token-array-equality invariant)
  *   enrich    — one memoized expression maps source -> (host, host_type,
  *               file_type, sink): the glob match runs once per *distinct
  *               source* in its SourceRules table, so the big side
  *               sees neither a join nor a per-row glob (reference J2)
  *   route     — salted repartition + fan-out write partitioned by sink
  *               (reference S5-S7 forwarder/recipient topology)
  *   aggregate — per-sink counts (A3), field stats (A1), time histogram
  *
  * All stages are Dataset/Catalyst expressions — the route's repartition is
  * the only shuffle, and parse + enrich are pure whole-stage-codegen map
  * work: a micro-batch or batch route runs no side job before its write.
  */
object LogPipeline {

  /** parse: sequences(doc_id, tokens, n_tok, source) -> + raw, offset, source_id.
    * `offset` is the numeric doc index (monotone per generation order) —
    * the rebuild's analog of the file byte offset.
    */
  def parse(sequences: DataFrame): DataFrame =
    sequences
      .withColumn("raw", F.tokens_to_text(col("tokens")))
      .withColumn("offset", regexp_extract(col("doc_id"), "(\\d+)$", 1).cast("long"))
      .withColumn("source_id", col("source"))

  /** enrich: resolve each event's source to its config and stamp
    * host/host_type/file_type/sink, then the dynamic fields map and ts.
    *
    * Scale shape: one memoized [[F.resolve_source]] expression per row —
    * globs tried in config order, first match wins, resolved once per
    * distinct source inside the expression instance — so enrich is map
    * work in the parse stage's codegen span: no join, no exchange and no
    * side job, on bounded and streaming inputs alike. `sink` is a pure
    * function of `source` and comes out of the same memo, so no per-row
    * `regexp_replace` runs on the big side.
    */
  def enrichStatic(parsed: DataFrame, configs: Seq[SourceConfig]): DataFrame = {
    val cfg = "_source_cfg"
    Seq("host", "host_type", "file_type", "sink")
      .foldLeft(parsed.withColumn(cfg, F.resolve_source(col("source"), configs))) {
        (df, c) => df.withColumn(c, col(s"$cfg.$c"))
      }
      .drop(cfg)
      // fields + ts are per-config *plan constants* (extractor regexes and
      // time layouts) behind the same first-match-wins SourceRules table.
      // Both run straight off the tokens payload; ts goes through the
      // time-only extraction so plans that never touch `fields` (the
      // fan-out write) prune the map build entirely.
      .withColumn("fields",
        F.extract_event(col("tokens"), col("host"), col("source"), configs))
      .withColumn("ts", tsColumnTokens(configs))
  }

  /** Event-time: parse `_time` with the per-config layout; rows without an
    * extractable time get a deterministic fallback (the reference stamps
    * wall-clock at read — EventPublishers.go:86-98 — which we replace with a
    * fixed epoch for reproducibility; documented divergence).
    */
  def tsColumn(configs: Seq[SourceConfig]): Column = {
    val timeStr = try_element_at(col("fields"), lit("_time"))
    val fallbackTs = to_timestamp(lit("1970-01-01 00:00:00"))
    coalesce(F.event_time(timeStr, col("source"), configs), fallbackTs)
  }

  /** [[tsColumn]] from tokens without touching `fields`: the time-only
    * extraction yields the identical `_time` string, and not referencing
    * `fields` lets Catalyst prune the whole map build out of plans that
    * don't project it (the route write path).
    */
  def tsColumnTokens(configs: Seq[SourceConfig]): Column = {
    val timeStr = F.extract_time_tokens(col("tokens"), col("source"), configs)
    val fallbackTs = to_timestamp(lit("1970-01-01 00:00:00"))
    coalesce(F.event_time(timeStr, col("source"), configs), fallbackTs)
  }

  /** Sink key for the fan-out write: filesystem-safe source name (every
    * char outside `[A-Za-z0-9_-]` becomes `_`), memoized per distinct source.
    */
  def sinkCol: Column = F.resolve_source(col("source"), Nil).getField("sink")

  /** Route-shuffle width from DATA volume, not cluster width. At a fixed
    * width the per-task volume grows linearly with input, and the write
    * stage falls off a memory cliff once sort buffers + parquet encoders
    * outgrow their share of the executor heap (measured on the scaling rig:
    * 64M rows over 16 tasks = 160 s vs 79 s over 64 tasks — BASELINE.md
    * headroom notes). A real cluster sizes tasks by bytes; so do we: exact
    * input-file byte sum (driver metadata, no job), `floor` = writer
    * parallelism for small inputs, ~96 MB of input parquet per writer task,
    * rounded UP to a whole multiple of the writer slots — a ragged last
    * wave (e.g. 19 tasks on 16 slots) costs a full extra wave of wall time
    * for 3 tasks' worth of work (measured: 20.3 s vs 14.9 s at 16M rows).
    * Non-file-backed inputs (tests, streaming micro-batches) keep the floor.
    */
  private def routeParts(df: DataFrame, floor: Int,
      targetBytes: Long = 192L << 20): Int = {
    val bytes = try {
      val files = df.inputFiles
      if (files.isEmpty) 0L
      else {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        files.iterator.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
      }
    } catch { case _: Exception => 0L }
    val byParts = math.min(1 << 24, (bytes + targetBytes - 1) / targetBytes).toInt
    val waves = (byParts + floor - 1) / floor
    math.max(floor, math.max(1, waves) * floor)
  }

  /** The routed-row shape every routed store holds. Schema-on-read, like
    * the reference ("fields are not stored", SURVEY.md §1.2): only the
    * payload + metadata. `raw` and `fields` are pure functions of `tokens`
    * and re-derived at search time — at 10^12 rows this halves the write
    * volume of the fan-out. `source_id` is `source` by construction on
    * every write path ([[parse]] defines it so), so it is NOT stored either
    * — [[openSinks]] re-derives it; that's one string column off every
    * shuffled and written row (guide §2.3 narrower rows / §6 write volume).
    */
  val RoutedCols: Seq[String] =
    Seq("doc_id", "tokens", "n_tok", "source", "host", "ts", "offset", "sink")

  def routedRows(df: DataFrame): DataFrame = df.select(RoutedCols.map(col): _*)

  /** A routed store's batch dir names: `batch=<digits>` (RouteJob and the
    * streaming ingests, keyed by batch id) and `batch=late-<id>`
    * (`StreamingPipeline.reconcileLate`). A `.`-prefixed staging dir or any
    * other leftover next to them is no batch.
    */
  private val BatchDir = "batch=(?:[0-9]+|late-[A-Za-z0-9_-]+)".r

  def isBatchDir(name: String): Boolean = BatchDir.matches(name)

  /** The batch dirs of the routed store at `outDir`, sorted by path. */
  def batchDirs(outDir: String): Seq[java.nio.file.Path] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
    try ls.iterator().asScala
      .filter(p => isBatchDir(p.getFileName.toString) && java.nio.file.Files.isDirectory(p))
      .toSeq.sortBy(_.toString)
    finally ls.close()
  }

  /** route: salted repartition + fan-out write, one directory per sink.
    *
    * The salt spreads each (possibly huge) source across all writer tasks so
    * a 50%-skewed source can't serialize into one task — the explicit skew
    * handling the north rule demands (AQE would also rebalance; we don't
    * rely on it). The salt domain is 8x the partition count: with a domain
    * equal to the partition count, hash collisions of (sink, salt) combos
    * leave some writers with 3-4x the median load (observed skew 3.8); an
    * oversized domain evens the per-partition combo count (observed < 1.3).
    * The explicit partition count also stops AQE coalescing the salt away
    * on small inputs. `numPartitions` is the writer-parallelism floor; the
    * actual width scales with input bytes via [[routeParts]].
    */
  def routeWrite(enriched: DataFrame, outDir: String, numPartitions: Int,
      mode: String = "overwrite"): Unit = {
    val persisted = routedRows(enriched)
    val parts = routeParts(persisted, numPartitions)
    val salted = persisted
      .withColumn("_salt", pmod(hash(col("doc_id")), lit(parts * 8)))
    salted.repartition(parts, col("sink"), col("_salt")).drop("_salt")
      // cluster each output file by event time: the dynamic-partition writer
      // must sort by `sink` anyway, and adding `ts` gives parquet row-group
      // min/max stats that prune time-bounded queries (logsuck queries are
      // time-bounded) — the 100 TB analog of the reference's DESC index
      .sortWithinPartitions(col("sink"), col("ts"))
      .write.mode(mode).partitionBy("sink").parquet(outDir)
  }

  /** Re-open a routed sink directory as the query layer's canonical event
    * frame (raw re-rendered from tokens; fields re-extracted per query;
    * source_id re-derived — [[routeWrite]] stores neither).
    */
  def openSinks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .withColumn("raw", F.tokens_to_text(col("tokens")))
      .withColumn("source_id", col("source"))

  /** aggregate: per-sink counts + order-independent routed-row-set checksum
    * (count + bit_xor of xxhash64(doc_id, tokens) — verifies row-set AND
    * token-array equality without collecting), per the north rule's
    * "per-sink aggregate counts + routed-row-set equality + per-row
    * token-array equality".
    */
  def sinkSummary(enriched: DataFrame): DataFrame =
    (if (enriched.columns.contains("sink")) enriched
     else enriched.withColumn("sink", sinkCol))
      .groupBy("sink")
      .agg(
        count(lit(1)).as("n"),
        bit_xor(xxhash64(col("doc_id"), col("tokens"))).as("rowset_sig"),
        sum(col("n_tok").cast("long")).as("total_tokens"))

  /** A1 field stats over the enriched frame. */
  def fieldStats(enriched: DataFrame): DataFrame =
    enriched.select(col("sink"), explode(col("fields")).as(Seq("key", "value")))
      .groupBy("sink", "key", "value").agg(count(lit(1)).as("occurrences"))

  /** Time-bucketed histogram per sink (1h tumbling). */
  def histogram(enriched: DataFrame, bucket: String = "1 hour"): DataFrame =
    enriched.groupBy(window(col("ts"), bucket).as("w"), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket_start"), col("sink"), col("n"))

  /** Numeric-literal shape (integers + %f-style decimals); anchored, in the
    * Java ∩ RE2 subset so both engines agree.
    */
  val NUMERIC_RX = "^-?[0-9]+(\\.[0-9]+)?$"

  /** Schema-on-read field profile — the admin panel for a log store whose
    * fields exist only because extraction discovered them (the reference's
    * entire data model): per (source, key) how many events carry the field,
    * how many distinct values it takes, and how many values look numeric —
    * the "is this field a dimension or a measure, and did a deploy change
    * its shape" view.
    *
    * Scale shape: the fields-map explode collapses MAP-SIDE to distinct
    * (source, key, value) cells before the one exchange (a field carried by
    * a billion events with 200 values crosses as 200 cells), then the
    * profile aggregates cell counts at (source, key) cardinality. The
    * numeric classification runs on cells, not events.
    */
  def fieldProfile(enriched: DataFrame): DataFrame =
    profileFromCells(
      enriched.select(col("source"), explode(col("fields")).as(Seq("key", "value")))
        .groupBy("source", "key", "value").agg(count(lit(1)).as("n")))

  /** The profile aggregation over (source, key, value, n) cells — shared by
    * the batch face above and the streaming face (the served update-delta
    * cells from `StreamingPipeline.fieldCellsToSink`; cells may be further
    * split by a window column, which changes no total — counts sum and
    * values stay distinct).
    */
  def profileFromCells(cells: DataFrame): DataFrame =
    cells.groupBy("source", "key")
      .agg(sum(col("n")).as("n"),
        countDistinct(col("value")).as("ndv"),
        sum(when(col("value").rlike(NUMERIC_RX), col("n")).otherwise(0L))
          .as("n_numeric"))

  /** Full batch pipeline: returns the enriched frame (lazily) with its sink
    * column. The plan needs no `spark`; the parameter stays for callers.
    */
  def run(spark: SparkSession, sequences: DataFrame,
      configs: Seq[SourceConfig]): DataFrame =
    enrichStatic(parse(sequences), configs)
}
