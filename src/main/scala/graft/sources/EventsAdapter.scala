package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.QueryEngine
import graft.model.SourceConfig

/** Adapter exposing the driver testdata `events` parquet as the engine's
  * canonical event frame. The rendered log line is a pure function of the
  * structured columns, so the DuckDB oracle can verify every downstream
  * operator independently by recomputing from the same columns
  * (see SparkEntry.oracleSql — `RAW_SQL` is the SQL twin of `raw` here).
  *
  * Line shape mirrors the reference's kv corpus (cmd/logdunk/main.go:27-32):
  *   2024/01/01 00:09:58.778549 performing action eventType=error userId=13 eventId=0
  */
object EventsAdapter {
  /** DuckDB twin of the rendered line (string concat, same timestamp format). */
  val RAW_SQL: String =
    "strftime(ts, '%Y/%m/%d %H:%M:%S.%f') || ' performing action eventType=' || event_type || ' userId=' || user_id || ' eventId=' || event_id"

  val extractors: Seq[String] = SourceConfig.defaultExtractors

  def configs: Seq[SourceConfig] = Seq(
    SourceConfig("events-*.log", "kv", extractors, "_time",
      SourceConfig.defaultTimeLayout, "events-host", "app"))

  /** The rendered kv line as a column expression (shared by [[events]],
    * [[lines]] and [[mixedSequences]] so the render can't drift between
    * surfaces).
    */
  private def rawCol =
    concat(
      date_format(col("ts"), "yyyy/MM/dd HH:mm:ss.SSSSSS"),
      lit(" performing action eventType="), col("event_type"),
      lit(" userId="), col("user_id"),
      lit(" eventId="), col("event_id"))

  /** Canonical event frame from {sfDir}/events.parquet. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    ev.select(
      col("event_id").cast("string").as("doc_id"),
      concat(lit("events-"), col("event_type"), lit(".log")).as("source"),
      concat(lit("host-"), pmod(col("user_id"), lit(4L))).as("host"),
      concat(lit("events-"), col("event_type"), lit(".log")).as("source_id"),
      col("ts"),
      col("event_id").cast("long").as("offset"),
      rawCol.as("raw"))
  }

  /** The events as mineable log lines WITH their structured metadata
    * (template drift windows cut on `ts`, adapters derive per-user
    * variants from `user_id`).
    */
  def lines(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet").select(
      col("event_id").cast("string").as("doc_id"),
      concat(lit("events-"), col("event_type"), lit(".log")).as("source"),
      rawCol.as("raw"), col("ts"), col("user_id"))

  /** DuckDB twins of the derived metadata columns. */
  val SOURCE_SQL = "'events-' || event_type || '.log'"
  val HOST_SQL = "'host-' || (user_id % 4)"

  def engine(spark: SparkSession, sfDir: String): QueryEngine =
    new QueryEngine(events(spark, sfDir), configs)

  /** Configs for the mixed-shape corpus: kv + access-combined + json —
    * all three parser paths (RegexFileParser kv dispatch, the access
    * extractor with Go ref-layout time, JsonFileParser with
    * UNIX_DECIMAL_NANOS), reusing the synthetic-corpus definitions.
    */
  def mixedConfigs: Seq[SourceConfig] =
    configs.head +: graft.data.SequenceGen.configs.drop(1)

  /** Mixed-shape sequences derived from the events parquet: `event_id % 3`
    * picks the rendered line (kv / access-combined / json). Every byte is a
    * pure function of the structured columns, so the DuckDB oracle can
    * recompute the full parse of each file type — including the
    * second-truncating access layout and the reference's
    * UNIX_DECIMAL_NANOS decimals-as-integer-nanos quirk
    * (pkg/logsuck/parser/ParseTime.go:37-52, JsonFileParser.go:41-50).
    */
  def mixedSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val mode = pmod(col("event_id"), lit(3))
    val accessTime = concat(date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000"))
    val status = lit(200) + pmod(col("user_id"), lit(4)) * 100
    val accessRaw = concat(
      lit("203.0.113."), pmod(col("user_id"), lit(255)),
      lit(" - - ["), accessTime, lit("] \"GET /e/"), col("event_id"),
      lit(".txt HTTP/1.1\" "), status, lit(" "), pmod(col("event_id"), lit(10000)),
      lit(" \"-\" Firefox"))
    val unixDecimal = concat(unix_timestamp(col("ts")).cast("string"), lit("."),
      date_format(col("ts"), "SSSSSS"))
    val level = when(pmod(col("user_id"), lit(5)) === 0, "warn").otherwise("info")
    val jsonRaw = concat(
      lit("{\"level\":\""), level, lit("\",\"ts\":"), unixDecimal,
      lit(",\"msg\":\"event recorded\",\"eventid\":"), col("event_id"), lit("}"))
    val source = when(mode === 0, concat(lit("events-"), col("event_type"), lit(".log")))
      .when(mode === 1, lit("access-0.log"))
      .otherwise(lit("json-0.log"))
    val raw = when(mode === 0, rawCol).when(mode === 1, accessRaw).otherwise(jsonRaw)
    val toks = graft.functions.F.text_to_tokens(raw)
    ev.select(
      col("event_id").cast("string").as("doc_id"),
      toks.as("tokens"),
      size(toks).as("n_tok"),
      source.as("source"))
  }

  /** DuckDB twin of `LogPipeline.fieldProfile` over [[mixedSequences]]:
    * every (source, key, value) triple the three parser paths extract,
    * recomputed from the structured columns (extraction lowercases raw, so
    * the access month abbreviation lowers; JSON numbers stringify %f-style;
    * the JSON time field keeps its raw decimal string under both `ts` and
    * the `_time` alias), then the same cells → profile aggregation.
    */
  val FIELD_PROFILE_SQL: String = {
    val kvSrc = "'events-' || event_type || '.log'"
    val kv = Seq(
      "_time" -> "strftime(ts, '%Y/%m/%d %H:%M:%S.%f')",
      "eventid" -> "CAST(event_id AS VARCHAR)",
      "eventtype" -> "event_type",
      "userid" -> "CAST(user_id AS VARCHAR)",
      "host" -> "'events-host'",
      "source" -> kvSrc
    ).map { case (k, v) =>
      s"SELECT $kvSrc AS source, '$k' AS key, $v AS value FROM events WHERE event_id % 3 = 0" }
    val acc = Seq(
      "_time" -> "lower(strftime(ts, '%d/%b/%Y:%H:%M:%S')) || ' +0000'",
      "ip" -> "'203.0.113.' || (user_id % 255)",
      "method" -> "'get'",
      "path" -> "'/e/' || event_id || '.txt'",
      "status" -> "CAST(200 + (user_id % 4) * 100 AS VARCHAR)",
      "size" -> "CAST(event_id % 10000 AS VARCHAR)",
      "host" -> "'web-host'",
      "source" -> "'access-0.log'"
    ).map { case (k, v) =>
      s"SELECT 'access-0.log' AS source, '$k' AS key, $v AS value FROM events WHERE event_id % 3 = 1" }
    val tsDecimal = "CAST(epoch_us(ts) // 1000000 AS VARCHAR) || '.' || strftime(ts, '%f')"
    val js = Seq(
      "_time" -> tsDecimal,
      "ts" -> tsDecimal,
      "eventid" -> "printf('%.6f', CAST(event_id AS DOUBLE))",
      "level" -> "CASE WHEN user_id % 5 = 0 THEN 'warn' ELSE 'info' END",
      "msg" -> "'event recorded'",
      "host" -> "'svc-host'",
      "source" -> "'json-0.log'"
    ).map { case (k, v) =>
      s"SELECT 'json-0.log' AS source, '$k' AS key, $v AS value FROM events WHERE event_id % 3 = 2" }
    val arms = (kv ++ acc ++ js).mkString(" UNION ALL ")
    s"""WITH kvv AS ($arms),
       |cells AS (SELECT source, key, value, count(*) AS c FROM kvv GROUP BY 1, 2, 3)
       |SELECT source, key, CAST(sum(c) AS BIGINT) AS n, count(*) AS ndv,
       |  CAST(sum(CASE WHEN regexp_matches(value, '${graft.plans.LogPipeline.NUMERIC_RX}')
       |    THEN c ELSE 0 END) AS BIGINT) AS n_numeric
       |FROM cells GROUP BY 1, 2""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twins for the mixed corpus (all keyed on `event_id % 3`). */
  val MIXED_SINK_SQL: String =
    """CASE WHEN event_id % 3 = 0 THEN regexp_replace('events-' || event_type || '.log', '[^A-Za-z0-9_-]', '_', 'g')
      |     WHEN event_id % 3 = 1 THEN 'access-0_log' ELSE 'json-0_log' END""".stripMargin.replace("\n", " ")
  val MIXED_HOST_SQL: String =
    """CASE WHEN event_id % 3 = 0 THEN 'events-host'
      |     WHEN event_id % 3 = 1 THEN 'web-host' ELSE 'svc-host' END""".stripMargin.replace("\n", " ")
  /** Parsed event time per shape: kv keeps full micros; the access layout
    * truncates to seconds; UNIX_DECIMAL_NANOS reads the 6 rendered decimal
    * digits as integer NANOS (Go quirk) -> micros = orig_micros / 1000.
    */
  val MIXED_TS_SQL: String =
    """CASE WHEN event_id % 3 = 0 THEN ts
      |     WHEN event_id % 3 = 1 THEN date_trunc('second', ts)
      |     ELSE make_timestamp((epoch_us(ts) // 1000000) * 1000000 + (epoch_us(ts) % 1000000) // 1000) END""".stripMargin.replace("\n", " ")

  /** Deterministic CONFIG VERSION HISTORY for the as-of enrich: every
    * event type gets [[CONFIG_VERSIONS]] config generations spaced
    * [[CONFIG_STEP_HOURS]] apart from the corpus epoch (the dynamic-config
    * reload history a long-lived ingest accumulates). Pure column
    * arithmetic with a DuckDB twin; `ts` is TIMESTAMP_NTZ to match the
    * parquet events column.
    */
  val CONFIG_TYPES: Seq[String] = Seq("click", "signup", "error", "view", "purchase")
  val CONFIG_VERSIONS = 20
  val CONFIG_STEP_HOURS = 36

  def configVersions(spark: SparkSession): DataFrame = {
    val t = pmod(col("id"), lit(CONFIG_TYPES.length.toLong))
    val v = floor(col("id") / CONFIG_TYPES.length)
    val etype = CONFIG_TYPES.zipWithIndex.tail.foldLeft(
      lit(CONFIG_TYPES.head)) { case (acc, (name, i)) =>
      when(t === i, name).otherwise(acc)
    }
    spark.range(CONFIG_TYPES.length.toLong * CONFIG_VERSIONS).select(
      etype.as("event_type"),
      (lit("2024-01-01 00:00:00").cast("timestamp_ntz") +
        make_dt_interval(lit(0), (v * CONFIG_STEP_HOURS).cast("int"),
          lit(0), lit(0))).as("ts"),
      concat(lit("kv-v"), v.cast("long")).as("cfg_version"),
      (v + 30).cast("long").as("retention_days"))
  }

  def configVersionsSql(): String = {
    val cases = CONFIG_TYPES.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")
    s"""(SELECT CASE (r % ${CONFIG_TYPES.length}) $cases END AS event_type,
       | TIMESTAMP '2024-01-01 00:00:00' + to_hours($CONFIG_STEP_HOURS * (r // ${CONFIG_TYPES.length})) AS ts,
       | 'kv-v' || (r // ${CONFIG_TYPES.length}) AS cfg_version,
       | CAST((r // ${CONFIG_TYPES.length}) + 30 AS BIGINT) AS retention_days
       | FROM (SELECT range AS r FROM range(${CONFIG_TYPES.length * CONFIG_VERSIONS})))""".stripMargin.replace("\n", " ")
  }

  /** Deterministic MAINTENANCE WINDOWS for the interval join: every event
    * type gets [[MAINT_WINDOWS]] windows at staggered starts from the
    * corpus epoch; every other window lasts 30 hours so it crosses a day
    * boundary and exercises the day explode. Pure column arithmetic with a
    * DuckDB twin, `timestamp_ntz` to match the parquet events column.
    */
  val MAINT_WINDOWS = 10

  def maintWindows(spark: SparkSession): DataFrame = {
    val t = pmod(col("id"), lit(CONFIG_TYPES.length.toLong))
    val i = floor(col("id") / CONFIG_TYPES.length)
    val etype = CONFIG_TYPES.zipWithIndex.tail.foldLeft(
      lit(CONFIG_TYPES.head)) { case (acc, (name, j)) =>
      when(t === j, name).otherwise(acc)
    }
    val startH = (i * 61 + t * 13).cast("int")
    val durH = (lit(3) + lit(27) * pmod(i, lit(2))).cast("int")
    val epoch = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    spark.range(CONFIG_TYPES.length.toLong * MAINT_WINDOWS).select(
      concat(lit("w-"), etype, lit("-"), i.cast("long")).as("window_id"),
      etype.as("event_type"),
      (epoch + make_dt_interval(lit(0), startH, lit(0), lit(0)))
        .as("start_ts"),
      (epoch + make_dt_interval(lit(0), startH + durH, lit(0), lit(0)))
        .as("end_ts"))
  }

  def maintWindowsSql(): String = {
    val n = CONFIG_TYPES.length
    val cases = CONFIG_TYPES.zipWithIndex
      .map { case (nm, j) => s"WHEN $j THEN '$nm'" }.mkString(" ")
    s"""(SELECT 'w-' || CASE (r % $n) $cases END || '-' || (r // $n) AS window_id,
       | CASE (r % $n) $cases END AS event_type,
       | TIMESTAMP '2024-01-01 00:00:00'
       |   + to_hours((r // $n) * 61 + (r % $n) * 13) AS start_ts,
       | TIMESTAMP '2024-01-01 00:00:00'
       |   + to_hours((r // $n) * 61 + (r % $n) * 13 + 3 + 27 * ((r // $n) % 2)) AS end_ts
       | FROM (SELECT range AS r FROM range(${n * MAINT_WINDOWS})))"""
      .stripMargin.replace("\n", " ")
  }

  /** The same events rendered as a pre-tokenized `sequences` table
    * (BASELINE.json input_hint shape) — lets the DuckDB oracle verify the
    * full tokens -> parse -> enrich -> route -> aggregate pipeline, because
    * the rendered line (and hence every downstream value) is recomputable
    * from the structured columns.
    */
  def sequences(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val ev = events(spark, sfDir)
    val toks = graft.functions.F.text_to_tokens(col("raw"))
    ev.select(
      col("doc_id"),
      toks.as("tokens"),
      org.apache.spark.sql.functions.size(toks).as("n_tok"),
      col("source"))
  }
}
