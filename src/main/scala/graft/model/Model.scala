package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas of the engine.
  *
  * The primary input (per BASELINE.json input_hint) is a table of pre-tokenized
  * sequences `(doc_id, tokens, n_tok, source)`. The parse stage renders `tokens`
  * to text, extracts dynamic fields, and enriches with per-source config —
  * mirroring the reference's schema-on-read event model
  * (reference: pkg/logsuck/events/Event.go:20-54) where only
  * (id, host, source, source_id, timestamp, offset) + raw text are first-class
  * and all other fields live in a dynamic string->string map.
  */
object Schemas {
  /** Input sequences table (BASELINE.json input_hint). */
  val sequences: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)
  ))

  /** The driver testdata `events` parquet, as written (ts is
    * TIMESTAMP_NTZ) — the readStream schema for event-level streams.
    */
  val eventsRaw: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampNTZType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)
  ))

  /** Canonical event frame the query layer operates on. `fields` is the
    * dynamic search-time map (reference: events/Event.go:46-54).
    */
  val event: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = true),
    StructField("n_tok", IntegerType, nullable = true),
    StructField("source", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("source_id", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("offset", LongType, nullable = false),
    StructField("raw", StringType, nullable = false)
  ))
}

/** One row of the input sequences table. */
case class SequenceRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** A raw event before field extraction (reference: events/Event.go:28-35). */
case class EventRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    host: String,
    source_id: String,
    ts: java.sql.Timestamp,
    offset: Long,
    raw: String)

/** Per-source parse/enrich config, resolved per distinct source by the
  * enrich expression (reference: pkg/logsuck/indexedfiles/IndexedFileConfig.go:27-38,
  * glob resolution plugins/steps/Utils.go:24-49).
  */
case class SourceConfig(
    source_glob: String,
    file_type: String, // "kv" | "access" | "json"
    extractors: Seq[String],
    time_field: String,
    time_layout: String,
    host: String,
    host_type: String)

object SourceConfig {
  /** Reference default extractors
    * (pkg/logsuck/config/JsonFileTypeConfigConverter.go:29-32).
    */
  val defaultExtractors: Seq[String] = Seq(
    "(\\w+)=(\\w+)",
    "^(?P<_time>\\d{4}/\\d{2}/\\d{2} \\d\\d:\\d\\d:\\d\\d\\.\\d{6})"
  )
  val defaultTimeLayout: String = "2006/01/02 15:04:05.000000"
}
