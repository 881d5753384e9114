package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.model.SourceConfig

/** Deterministic synthetic `sequences` table (BASELINE.json input_hint):
  * (doc_id, tokens, n_tok, source). Pure Column arithmetic on `spark.range` —
  * no wall clock, no RNG state, fully parallel and reproducible at any scale
  * and any partitioning. Rendered lines follow the reference's generator
  * corpora (cmd/logdunk/main.go:27-53, cmd/accessdunk/main.go:47-126,
  * pkg/logsuck/parser/JsonFileParser_test.go:33-35); see FIXTURES.md §2.
  *
  * Source skew (FIXTURES.md §1): Zipf-ish over 6 sources with `log-0.txt`
  * holding ~50% of rows, to exercise salting in the route stage.
  */
object SequenceGen {
  val baseEpochMicros: Long = 1611171420L * 1000000L // 2021-01-20T19:37:00Z

  /** Per-source parse/enrich configs for the synthetic corpus — what the
    * enrich stage resolves each source to (FIXTURES.md §3).
    */
  val configs: Seq[SourceConfig] = Seq(
    SourceConfig("log-*.txt", "kv", SourceConfig.defaultExtractors,
      "_time", SourceConfig.defaultTimeLayout, "app-host", "app"),
    SourceConfig("access-*.log", "access",
      // NB: search-time extraction runs on lowercased raw (Fragments.go:95),
      // so literals in extractors must be lowercase
      Seq("""^(?P<ip>[\d.]+) - - \[(?P<_time>[^\]]+)\] "(?P<method>\w+) (?P<path>\S+) http/1\.1" (?P<status>\d+) (?P<size>\d+)"""),
      "_time", "02/Jan/2006:15:04:05 -0700", "web-host", "web"),
    SourceConfig("json-*.log", "json", Seq(), "ts", "UNIX_DECIMAL_NANOS",
      "svc-host", "svc")
  )

  /** The sequences table: n rows, `parts` input partitions. */
  def sequences(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val id = col("id")
    // deterministic per-row "randomness" — splitmix-style bit mix on the id
    val h1 = pmod(hash(id, lit(1)).cast("long"), lit(100L))
    val h2 = pmod(hash(id, lit(2)).cast("long"), lit(1000L))
    val h3 = pmod(hash(id, lit(3)).cast("long"), lit(10000L))
    val h4 = pmod(hash(id, lit(4)).cast("long"), lit(6L))

    // skewed source assignment: 50 / 15 / 10 / 10 / 5 / 10 percent
    val source = when(h1 < 50, "log-0.txt")
      .when(h1 < 65, "log-1.txt")
      .when(h1 < 75, "log-2.txt")
      .when(h1 < 85, "access-0.log")
      .when(h1 < 90, "access-1.log")
      .otherwise("json-0.log")

    val ts = timestamp_micros(lit(baseEpochMicros) + id * lit(1234567L))
    val kvTime = date_format(ts, "yyyy/MM/dd HH:mm:ss.SSSSSS")
    val accessTime = concat(date_format(ts, "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000"))
    val unixDecimal = concat(
      (lit(baseEpochMicros / 1000000L) + id * lit(13L)).cast("string"),
      lit("."), format_string("%06d", pmod(h3, lit(1000000L))))

    val user = pmod(h2, lit(100L))
    val kvLine = when(pmod(h3, lit(2L)) === 0,
      format_string("%s Reticulated numSplines=%d for userId=%d in timeInMs=%d",
        kvTime, h3, user, pmod(h2, lit(500L))))
      .otherwise(format_string("%s Setting password=pw%d for userId=%d, userName=user%d",
        kvTime, h3, user, user))

    val status = when(h2 < 800, 200).when(h2 < 900, 204)
      .when(h2 < 950, 301).when(h2 < 970, 404).when(h2 < 990, 400).otherwise(500)
    val method = when(h3 < 8000, "GET").when(h3 < 9000, "POST")
      .when(h3 < 9500, "DELETE").otherwise("PUT")
    val accessLine = format_string(
      "%s - - [%s] \"%s /lorem/ipsum%d.txt HTTP/1.1\" %d %d \"-\" Firefox",
      concat(lit("203.0.113."), pmod(h2, lit(255L))), accessTime, method,
      pmod(h3, lit(50L)), status, h3)

    val jsonLine = format_string(
      "{\"level\":\"%s\",\"ts\":%s,\"logger\":\"reloadFileWatchers\",\"msg\":\"reloading file watchers\",\"newIndexedFilesLen\":%d}",
      when(pmod(h2, lit(4L)) === 0, "warn").otherwise("info"), unixDecimal, pmod(h4, lit(5L)))

    val text = when(source.startsWith("log-"), kvLine)
      .when(source.startsWith("access-"), accessLine)
      .otherwise(jsonLine)

    val tokens = F.text_to_tokens(text)
    spark.range(0, n, 1, parts).select(
      format_string("doc-%012d", id).as("doc_id"),
      tokens.as("tokens"),
      size(tokens).as("n_tok"),
      source.as("source"))
  }
}
