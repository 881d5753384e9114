package graft.sources

import java.nio.charset.StandardCharsets

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F

/** Raw-text ingestion: the reference's event-split semantics
  * (pkg/logsuck/parser/RegexFileParser.go:65-83 + offset accounting
  * plugins/filereader/FileWatcher.go:422-441) for users feeding log FILES
  * rather than pre-tokenized sequences.
  */
object TextIngest {

  final case class SplitEvent(raw: String, offset: Long)
  final case class SplitResult(events: Seq[SplitEvent], remainder: String,
      remainderOffset: Long)

  /** Port of FileParser.Split: split on the delimiter regex, accumulate the
    * byte offset of each event (the UTF-8 bytes of the event and its
    * delimiter), keep the trailing un-delimited chunk and its byte offset
    * as remainder (the reference buffers it until the next 4 KiB read).
    */
  def split(s: String, delimiter: Regex): SplitResult = {
    val events = Seq.newBuilder[SplitEvent]
    var offset = 0L
    var pos = 0
    delimiter.findAllMatchIn(s).foreach { m =>
      events += SplitEvent(s.substring(pos, m.start), offset)
      offset += s.substring(pos, m.end).getBytes(StandardCharsets.UTF_8).length
      pos = m.end
    }
    SplitResult(events.result(), s.substring(pos), offset)
  }

  /** Read log files (glob) into the canonical event frame: one file = one
    * source_id, events split on the delimiter with byte offsets. Uses
    * wholetext per file — the batch analog of the reference's tail-with-
    * remainder loop (a streaming deployment uses the Structured Streaming
    * file source instead, see graft.streaming.StreamingPipeline).
    *
    * Scale note: wholetext materializes each FILE as one row, so this path
    * is for the reference's deployment shape (many modest log files; the
    * reference reads 4 KiB chunks of living files). Huge archival inputs
    * should arrive as the pre-tokenized sequences table — the engine's
    * canonical input — or through the streaming file source; per-event byte
    * offsets are the only thing a line-based `spark.read.text` cannot
    * reproduce, and they are part of the reference's event identity.
    */
  def readLogFiles(spark: SparkSession, glob: String,
      delimiter: String = "\n"): DataFrame =
    readLogFiles(spark, glob, Seq("*" -> delimiter))

  /** [[readLogFiles]] with per-fileType event delimiters: ordered
    * (source-glob, delimiter-regex) pairs, first matching glob wins, files
    * matching no glob split on newline — the batch twin of the reference's
    * per-fileType `eventDelimiter` (pkg/logsuck/config/JsonConverter.go:50-55
    * feeding RegexFileParser's split regex).
    */
  def readLogFiles(spark: SparkSession, glob: String,
      delimiters: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // (glob-regex, delimiter) resolution table: plain serializable strings in
    // the closure; each task compiles them once per FILE row (files are the
    // unit of work here, so compile cost is noise)
    val rules: Seq[(String, String)] =
      delimiters.map { case (g, d) => F.globToRegex(g) -> d }
    val files = spark.read.option("wholetext", "true").text(glob)
      .withColumn("path", input_file_name())
      .as[(String, String)]
    val events = files.flatMap { case (content, path) =>
      val source = path.substring(path.lastIndexOf('/') + 1)
      val rx = rules.collectFirst {
        case (g, d) if source.matches(g) => d
      }.getOrElse("\n").r
      // trailing remainder becomes a final event (batch EOF = flush)
      val res = split(content, rx)
      val all =
        if (res.remainder.nonEmpty)
          res.events :+ SplitEvent(res.remainder, res.remainderOffset)
        else res.events
      all.filter(_.raw.nonEmpty).zipWithIndex.map { case (e, i) =>
        (s"$source-$i", e.raw, source, path, e.offset)
      }
    }.toDF("doc_id", "raw", "source", "source_id", "offset")
    events
      .withColumn("tokens", F.text_to_tokens(col("raw")))
      .withColumn("n_tok", size(col("tokens")))
  }
}
