package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F

/** One generated log event plus the structured values it was rendered from
  * (the sidecar). The program only ever sees `source` and the tokens of
  * `text`; the checks read the rest.
  *
  * kind: 0 = kv "Reticulated", 1 = kv "Setting password", 2 = access, 3 = json.
  * `tsMicros` is the event time the product should extract (access lines
  * carry whole seconds only).
  */
final case class Ev(id: Long, source: String, kind: Int, tsMicros: Long,
    user: Int, status: Int, method: String, level: String, late: Boolean,
    text: String) {
  def docId: String = Gen.docId(id)
  def sink: String = Gen.sinkOf(source)

  /** Entries of the fields map the product should extract from this line:
    * kv lines give each `key=value` pair plus `_time`, access lines the six
    * groups of their extractor, json lines their five keys plus `_time`
    * (aliased from `ts`); `host` and `source` are added to every map.
    */
  def fieldCount: Int = 2 + (if (kind <= 1) Gen.KvPair.findAllIn(text).length + 1 else 6)
}

/** Seeded generator of the sequences table. Line shapes and the
  * 50/15/10/10/5/10 source skew follow `graft.data.SequenceGen`; unlike it,
  * every source advances event time at one rate (1.234567 s per id), so a
  * stream fed in id order never falls behind its own watermark. The seed
  * picks the id range; per-row values are a hash of the id.
  */
object Gen {
  val BaseMicros: Long = 1611171420L * 1000000L // 2021-01-20T19:37:00Z
  val StepMicros: Long = 1234567L
  val DayMicros: Long = 86400L * 1000000L
  val Sources: Array[String] =
    Array("log-0.txt", "log-1.txt", "log-2.txt", "access-0.log", "access-1.log", "json-0.log")

  val KvPair: scala.util.matching.Regex = "\\w+=\\w+".r

  def sinkOf(source: String): String = source.replaceAll("[^A-Za-z0-9_-]", "_")

  private val kvFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss.SSSSSS")
  private val accessFmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.US)

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def h(id: Long, salt: Long, mod: Long): Long = java.lang.Math.floorMod(mix(id * 0x100000001B3L + salt), mod)

  /** First id of the seed's range (ids stay below 10^11, so doc ids keep 12 digits). */
  def firstId(seed: Long): Long = 1L + java.lang.Math.floorMod(mix(seed ^ 0x5EEDL), 900000L) * 100000L

  def docId(id: Long): String = f"doc-$id%012d"

  private def ldt(micros: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(java.lang.Math.floorDiv(micros, 1000000L),
      (java.lang.Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  /** Event `id` of a range starting at `lo`. A late event (live views only)
    * is stamped `lateIdx + 1` days before the base time, so each late row
    * opens its own window in every view and sits far behind any watermark.
    */
  def event(id: Long, lo: Long, late: Boolean = false, lateIdx: Int = 0): Ev = {
    val h1 = h(id, 1, 100)
    val h2 = h(id, 2, 1000).toInt
    val h3 = h(id, 3, 10000).toInt
    val h4 = h(id, 4, 6).toInt
    val source =
      if (h1 < 50) Sources(0) else if (h1 < 65) Sources(1) else if (h1 < 75) Sources(2)
      else if (h1 < 85) Sources(3) else if (h1 < 90) Sources(4) else Sources(5)
    val ts = if (late) BaseMicros - (lateIdx + 1L) * DayMicros - h3
             else BaseMicros + (id - lo) * StepMicros
    val user = h2 % 100
    val t = ldt(ts)
    if (source.startsWith("log-")) {
      val kind = h3 % 2
      val text =
        if (kind == 0) s"${t.format(kvFmt)} Reticulated numSplines=$h3 for userId=$user in timeInMs=${h2 % 500}"
        else s"${t.format(kvFmt)} Setting password=pw$h3 for userId=$user, userName=user$user"
      Ev(id, source, kind, ts, user, 0, "", "", late, text)
    } else if (source.startsWith("access-")) {
      val status = if (h2 < 800) 200 else if (h2 < 900) 204 else if (h2 < 950) 301
        else if (h2 < 970) 404 else if (h2 < 990) 400 else 500
      val method = if (h3 < 8000) "GET" else if (h3 < 9000) "POST" else if (h3 < 9500) "DELETE" else "PUT"
      val text = s"203.0.113.${h2 % 255} - - [${t.format(accessFmt)} +0000] \"$method /lorem/ipsum${h3 % 50}.txt HTTP/1.1\" $status $h3 \"-\" Firefox"
      Ev(id, source, 2, java.lang.Math.floorDiv(ts, 1000000L) * 1000000L, user, status, method, "", late, text)
    } else {
      val level = if (h2 % 4 == 0) "warn" else "info"
      val sec = java.lang.Math.floorDiv(ts, 1000000L)
      val frac = java.lang.Math.floorMod(ts, 1000000L)
      val text = f"""{"level":"$level","ts":$sec.$frac%06d,"logger":"reloadFileWatchers","msg":"reloading file watchers","newIndexedFilesLen":${h4 % 5}}"""
      Ev(id, source, 3, ts, user, 0, "", level, late, text)
    }
  }

  def events(lo: Long, n: Int): Vector[Ev] = Vector.tabulate(n)(i => event(lo + i, lo))

  /** The (doc_id, tokens, n_tok, source) sequences frame of `evs`; tokens
    * come from the product's public `F.text_to_tokens`. With `batchCol`,
    * a `batch` column is carried along for partitioned staging.
    */
  def sequences(spark: SparkSession, evs: Seq[Ev], parts: Int,
      batchOf: Option[Ev => Int] = None): DataFrame = {
    import spark.implicits._
    val rows = evs.map(e => (e.docId, e.text, e.source, batchOf.map(_(e)).getOrElse(0)))
    val df = tokenized(rows.toDF("doc_id", "text", "source", "batch").repartition(parts))
    if (batchOf.isDefined) df else df.drop("batch")
  }

  /** The sequences frame of events `lo` until `lo + n`, generated on the
    * executors (for inputs too large to build on the driver).
    */
  def sequencesOfRange(spark: SparkSession, lo: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    tokenized(spark.range(lo, lo + n, 1, parts).as[Long]
      .map { id => val e = event(id, lo); (e.docId, e.text, e.source) }
      .toDF("doc_id", "text", "source"))
  }

  private def tokenized(rows: DataFrame): DataFrame = {
    val rest = rows.columns.filterNot(Set("doc_id", "text", "source")).map(col).toSeq
    rows.select(Seq(col("doc_id"), F.text_to_tokens(col("text")).as("tokens"), col("source")) ++ rest: _*)
      .select(Seq(col("doc_id"), col("tokens"), size(col("tokens")).as("n_tok"), col("source")) ++ rest: _*)
  }

  // ------------------------------------------------------------ documents

  private val vocab = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "index", "page", "join", "plan", "task", "stage", "shuffle", "cache",
    "file", "node", "disk", "memory", "core", "log")

  /** A seeded word-soup documents table shaped like the repo's test-data
    * `documents.parquet` (doc_id, text, lang, source, n_chars): 6-60 words
    * per doc over a 40-word vocabulary with a skewed word choice, so the LM
    * scores spread and some pages repeat chunks.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val base = mix(seed * 7919L + i)
      val len = 6 + java.lang.Math.floorMod(base, 55L).toInt
      val text = (0 until len).map { j =>
        val r = java.lang.Math.floorMod(mix(base + j), 1000L).toInt
        vocab(if (r < 600) r % 12 else if (r < 900) 12 + r % 16 else 28 + r % 12)
      }.mkString(" ")
      (i.toLong, text, if (i % 3 == 0) "en" else "zh", s"src${i % 5}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
