package graft.compile

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.lang.Lang
import graft.model.SourceConfig

/** Pipe typing, mirroring the reference's compile-time step-chain checks
  * (pkg/logsuck/pipeline/Pipeline.go:25-33, internal/pipeline/Pipeline.go:97-114).
  */
object PipeType extends Enumeration {
  val None, Events, Table, Propagate = Value
}

/** A step result: either an events frame (base columns + dynamic `fields`
  * map) or a projected table with a declared column order
  * (reference pipeline.StepResult, Pipeline.go:42-45).
  */
sealed trait Frame { def df: DataFrame }
final case class EventsFrame(df: DataFrame) extends Frame
final case class TableFrame(df: DataFrame, columnOrder: Seq[String]) extends Frame

final case class QueryError(msg: String) extends RuntimeException(msg)

/** The query layer: compiles the logsuck search language into Catalyst plans
  * over a canonical events DataFrame with columns
  * (doc_id, source, host, source_id, ts, offset, raw [, tokens, n_tok]).
  *
  * Everything is declarative — filters and projections reach the scan
  * (predicate pushdown / partition pruning are Catalyst's job); the engine
  * only decides WHAT to compute. No RDDs, no driver-side row loops.
  */
class QueryEngine(val events: DataFrame, val configs: Seq[SourceConfig]) {
  import QueryEngine._

  // ---------------------------------------------------------------- parse

  /** Events frame with the `fields` map materialized as an expression
    * (schema-on-read: nothing stored, recomputed per query like the
    * reference re-extracts per search). Each event's source resolves to its
    * config rule (reference J2: plugins/steps/Utils.go:24-49); extraction
    * runs on lowercased raw (plugins/steps/Fragments.go:95) and injects
    * reserved host/source (Fragments.go:97-98). Frames carrying the tokens
    * payload (routed sinks re-opened via LogPipeline.openSinks) take the
    * decode-to-lowercase fast path instead of re-lowering the rendered
    * string.
    */
  def withFields(base: DataFrame): DataFrame = {
    val raw = if (base.columns.contains("tokens")) col("tokens") else col("raw")
    base.withColumn("fields", F.extract_event(raw, col("host"), col("source"), configs))
  }

  // ---------------------------------------------------------------- search

  /** Raw-substring prefilter gate for positive field predicates. When every
    * config (and the no-glob-match default) is plain-kv — extractors are
    * either the default `(\w+)=(\w+)` or all-named — a dynamic key k can
    * only enter `fields` as a literal `k=<\w+>` substring of the lowercased
    * raw. A cheap Contains conjunct then short-circuits the per-row
    * extraction for non-candidate rows: the same role the reference's FTS
    * MATCH prefilter plays for fragments (SqliteEventRepository.go:327-352),
    * re-expressed as Catalyst short-circuit AND. `None` when any config
    * could populate fields another way (json, access, custom separators).
    */
  private lazy val kvPrefilterExcluded: Option[Set[String]] = {
    val rules = graft.functions.SourceRules(configs).rules // configs + fallback
    val exs = rules.flatMap(_.extractors)
    // host/source are injected reserved fields; "_time" is injected too when
    // the configured time_field differs (FieldsBuffer.finish copies it), so
    // a `_time=...` predicate must never gain a raw-substring conjunct
    if (rules.forall(_.config.file_type == "kv") && exs.forall(e => e.isDefaultKv || e.namedOnly))
      Some(exs.flatMap(_.groupNames).toSet ++ Set("host", "source", "_time"))
    else None
  }

  @inline private def isKvWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  private def fieldPrefilter(k: String, vs: Vector[String]): Option[Column] =
    kvPrefilterExcluded match {
      case Some(excluded) if !excluded.contains(k) && k.nonEmpty && k.forall(isKvWordChar) =>
        // value prefix up to the first non-word char (wildcards etc.) keeps
        // the needle a necessary condition; distinct needles OR together
        val needles = vs.map(v => k + "=" + v.toLowerCase.takeWhile(isKvWordChar)).distinct
        Some(needles.map(n => lower(col("raw")).contains(lit(n))).reduce(_ || _))
      case _ => None
    }

  /** Compile a Search IR + time bounds to a single Column predicate.
    * Fragments match raw (case-insensitive, wildcard, word-boundary —
    * Fragments.go:74-89); field predicates AND across keys, OR across values,
    * missing field excludes (positive) / includes (negative)
    * (Fragments.go:91-135); time bounds inclusive both ends
    * (SqliteEventRepository.go:297-301). host/source short-circuit to column
    * predicates so Catalyst can prune partitions.
    */
  def searchPredicate(s: Lang.Search,
      start: Option[Timestamp], end: Option[Timestamp]): Column = {
    val preds = Seq.newBuilder[Column]
    start.foreach(t => preds += (col("ts") >= lit(t)))
    end.foreach(t => preds += (col("ts") <= lit(t)))
    s.fragments.foreach(f => preds += F.fragMatches(col("raw"), f))
    s.notFragments.foreach(f => preds += !F.fragMatches(col("raw"), f))
    def fieldVal(k: String): Column = k match {
      case "source" => col("source")
      case "host" => col("host")
      case _ => try_element_at(col("fields"), lit(k))
    }
    s.fields.foreach { case (k, vs) =>
      val v = fieldVal(k)
      val any = vs.map(x => v.rlike(F.compileFrag(x))).reduce(_ || _)
      val full = coalesce(any, lit(false))
      // positive predicates only: a missing "k=" substring proves the field
      // is absent, so the conjunct preserves missing-field-excludes exactly
      preds += (fieldPrefilter(k, vs) match {
        case Some(pf) => pf && full
        case None => full
      })
    }
    s.notFields.foreach { case (k, vs) =>
      val v = fieldVal(k)
      val any = vs.map(x => v.rlike(F.compileFrag(x))).reduce(_ || _)
      preds += !coalesce(any, lit(false))
    }
    preds.result().reduceOption(_ && _).getOrElse(lit(true))
  }

  // ---------------------------------------------------------------- steps

  sealed trait Step {
    def name: String
    def inputType: PipeType.Value
    def outputType: PipeType.Value
    def apply(in: Frame): Frame
  }

  /** `search` generator (plugins/steps/SearchPipelineStep.go:37-134). */
  final case class SearchStep(search: Lang.Search,
      start: Option[Timestamp], end: Option[Timestamp]) extends Step {
    val name = "search"
    val inputType = PipeType.None
    val outputType = PipeType.Events
    def apply(in: Frame): Frame =
      EventsFrame(withFields(events).filter(searchPredicate(search, start, end)))
  }

  /** `rex` (plugins/steps/RexPipelineStep.go:33-103): one ad-hoc extractor
    * over original-case raw / source / host / an extracted field; new fields
    * merged last-wins; events whose source field is missing pass unchanged.
    */
  final case class RexStep(field: String, regex: String) extends Step {
    val name = "rex"
    val inputType = PipeType.Events
    val outputType = PipeType.Events
    def apply(in: Frame): Frame = in match {
      case EventsFrame(df) =>
        val src: Column = field match {
          case "_raw" => col("raw")
          case "source" => col("source")
          case "host" => col("host")
          case f => try_element_at(col("fields"), lit(f))
        }
        EventsFrame(df.withColumn("fields",
          F.map_union(col("fields"), F.rex_extract(src, regex))))
      case t: TableFrame => throw QueryError("rex requires an events input")
    }
  }

  /** `where` (plugins/steps/WherePipelineStep.go:29-90): conjunctive exact
    * string equality; missing field compares as "" (Go zero value). Keys
    * lowercased on the events path; used verbatim on the table path.
    */
  final case class WhereStep(conds: Map[String, String]) extends Step {
    val name = "where"
    val inputType = PipeType.Propagate
    val outputType = PipeType.Propagate
    def apply(in: Frame): Frame = in match {
      case EventsFrame(df) =>
        val pred = conds.map { case (k, v) =>
          coalesce(try_element_at(col("fields"), lit(k.toLowerCase)), lit("")) === lit(v)
        }.reduceOption(_ && _).getOrElse(lit(true))
        EventsFrame(df.filter(pred))
      case TableFrame(df, order) =>
        val pred = conds.map { case (k, v) =>
          (if (order.contains(k)) coalesce(col(k), lit("")) else lit("")) === lit(v)
        }.reduceOption(_ && _).getOrElse(lit(true))
        TableFrame(df.filter(pred), order)
    }
  }

  /** `table` (plugins/steps/TablePipelineStep.go:29-85): ordered projection,
    * missing field -> empty string.
    */
  final case class TableStep(fields: Seq[String]) extends Step {
    val name = "table"
    val inputType = PipeType.Events
    val outputType = PipeType.Table
    def apply(in: Frame): Frame = in match {
      case EventsFrame(df) =>
        TableFrame(df.select(fields.map(f =>
          coalesce(try_element_at(col("fields"), lit(f)), lit("")).as(f)): _*), fields)
      case _: TableFrame => throw QueryError("table requires an events input")
    }
  }

  /** `surrounding` generator (plugins/steps/SurroundingPipelineStep.go:36-122,
    * SQL at SqliteEventRepository.go:435-462): count/2 events at offset <=
    * base and count/2 at offset > base within the same source_id, final order
    * offset DESC. Implemented as two filtered top-k scans (no global
    * window shuffle — SURVEY.md §7.3).
    */
  final case class SurroundingStep(eventId: String, count: Int) extends Step {
    val name = "surrounding"
    val inputType = PipeType.None
    val outputType = PipeType.Events
    def apply(in: Frame): Frame = {
      // fully lazy: the one base row rides a broadcast equi-join on
      // source_id (no driver collect — compiling a query is not an action);
      // each side is a TakeOrderedAndProject, never a global sort
      val base = events.filter(col("doc_id") === lit(eventId))
        .select(col("source_id").as("_b_sid"), col("offset").as("_b_off"))
        .limit(1)
      val joined = events.join(broadcast(base), col("source_id") === col("_b_sid"))
      val half = count / 2
      val up = joined.filter(col("offset") <= col("_b_off"))
        .orderBy(col("offset").desc).limit(half)
      val down = joined.filter(col("offset") > col("_b_off"))
        .orderBy(col("offset").asc).limit(half)
      EventsFrame(withFields(up.unionByName(down).drop("_b_sid", "_b_off"))
        .orderBy(col("offset").desc))
    }
  }

  /** `bm25` (extension — the reference's search is boolean-only): keep the
    * k incoming events most relevant to the quoted term list, ranked by
    * BM25 over the normalized raw line, and expose the rounded score as
    * the `bm25` field (so `where`/`table`/field stats compose with it).
    * Scoring runs on the (doc_id, raw) projection; the k winners ride a
    * broadcast back onto the full event rows (graft.ml.Retrieval).
    */
  final case class Bm25Step(terms: Seq[String], k: Int) extends Step {
    val name = "bm25"
    val inputType = PipeType.Events
    val outputType = PipeType.Events
    def apply(in: Frame): Frame = in match {
      case EventsFrame(df) =>
        val ranked = graft.ml.Retrieval.bm25JoinBack(df, "doc_id", "raw", terms, k)
        EventsFrame(ranked
          .withColumn("fields", F.map_union(col("fields"),
            map(lit("bm25"), col("bm25").cast("string"))))
          .drop("bm25"))
      case _: TableFrame => throw QueryError("bm25 requires an events input")
    }
  }

  /** `stats` (extension — the aggregation step every log query language
    * grows; the reference serves aggregates only through the jobStats API):
    * one aggregate over the incoming events, optionally grouped
    * (`| stats count by=eventtype`, `| stats sum(userid) by=host`).
    * Deterministic by construction: count/countd are integer-exact, sum
    * casts values to LONG (try_cast — non-numeric values skip, and no
    * float accumulation order can differ), min/max compare strings
    * lexicographically. Emits a Table frame (string cells, like `table`),
    * so `where` and the resultType=2 job serving compose downstream.
    *
    * Scale shape: a straight partial-aggregated groupBy on the extracted
    * key — map-side combine collapses to group cells before the one
    * exchange; no window, no collect.
    */
  final case class StatsStep(fn: String, field: Option[String],
      by: Option[String]) extends Step {
    val name = "stats"
    val inputType = PipeType.Events
    val outputType = PipeType.Table
    def apply(in: Frame): Frame = in match {
      case EventsFrame(df) =>
        def f(n: String): Column = n match {
          case "_raw" => col("raw")
          case "source" => col("source")
          case "host" => col("host")
          case other => try_element_at(col("fields"), lit(other))
        }
        val out = fn + field.map("_" + _).getOrElse("")
        val aggCol = (fn match {
          case "count" => count(lit(1))
          case "countd" => countDistinct(f(field.get))
          case "sum" => sum(f(field.get).try_cast("long"))
          case "min" => min(f(field.get))
          case "max" => max(f(field.get))
        }).cast("string")
        by match {
          case Some(g) =>
            val grouped = df.groupBy(coalesce(f(g), lit("")).as(g))
            TableFrame(grouped.agg(coalesce(aggCol, lit("")).as(out)), Seq(g, out))
          case None =>
            TableFrame(df.agg(coalesce(aggCol, lit("")).as(out)), Seq(out))
        }
      case _: TableFrame => throw QueryError("stats requires an events input")
    }
  }

  // ---------------------------------------------------------------- compile

  /** Compile one parsed step (registry analog of
    * plugins/steps/StepsPlugin.go:25-75).
    */
  def compileStep(p: Lang.PipelineStep,
      start: Option[Timestamp], end: Option[Timestamp]): Step = p.stepType match {
    case "search" =>
      // per-step time options (SearchPipelineStep.go:103-121): a
      // mid-pipeline `| search startTime=… endTime=…` carries its own
      // bounds, overriding the API-level ones for that step
      def timeArg(key: String): Option[Timestamp] = p.args.get(key).map { v =>
        QueryEngine.parseTimeArg(v, java.time.Instant.now()).getOrElse(
          throw QueryError(s"failed to compile search: error parsing $key: $v"))
      }
      Lang.parseSearch(p.value) match {
        case Right(s) => SearchStep(s, timeArg("startTime").orElse(start),
          timeArg("endTime").orElse(end))
        case Left(e) => throw QueryError(s"failed to compile search: $e")
      }
    case "rex" =>
      if (p.value.isEmpty) throw QueryError("failed to compile rex: no regex given")
      RexStep(p.args.getOrElse("field", "_raw"), p.value)
    case "where" => WhereStep(p.args)
    case "table" =>
      val fs = p.value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (fs.isEmpty) throw QueryError("failed to compile table: no fields given")
      TableStep(fs)
    case "surrounding" =>
      val id = p.args.getOrElse("eventId",
        throw QueryError("failed to compile surrounding: eventId must be provided"))
      SurroundingStep(id, p.args.get("count").map(_.toInt).getOrElse(100))
    case "bm25" =>
      // terms lowercase up front: scoring tokenizes through the same
      // normalize pass as every text operator (lowercased words)
      val terms = p.value.split("\\s+").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq
      if (terms.isEmpty) throw QueryError("failed to compile bm25: no terms given")
      Bm25Step(terms, p.args.get("k").map(_.toInt).getOrElse(100))
    case "stats" =>
      // option-list form (the step grammar takes k=v args):
      //   | stats fn=count [by=<field>]
      //   | stats fn=sum|countd|min|max field=<f> [by=<field>]
      val fn = p.args.getOrElse("fn",
        throw QueryError("failed to compile stats: fn must be provided"))
      if (!Set("count", "countd", "sum", "min", "max").contains(fn))
        throw QueryError(s"failed to compile stats: unknown aggregate '$fn'")
      val fieldOpt = p.args.get("field").map(_.toLowerCase)
      if (fn != "count" && fieldOpt.isEmpty)
        throw QueryError(s"failed to compile stats: $fn needs field=")
      if (fn == "count" && fieldOpt.nonEmpty)
        throw QueryError("failed to compile stats: count takes no field (use countd)")
      StatsStep(fn, fieldOpt, p.args.get("by").map(_.toLowerCase))
    case other => throw QueryError(s"unknown step type: $other")
  }

  /** Full query compile: parse -> per-step compile -> generator elision
    * (internal/pipeline/Pipeline.go:89-95: everything before the last
    * generator step is discarded) -> type check (ibid :97-114).
    */
  def compile(query: String,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None): Seq[Step] = {
    val parsed = Lang.parsePipeline(query.trim) match {
      case Right(steps) => steps
      case Left(e) => throw QueryError(e)
    }
    val steps = parsed.zipWithIndex.map { case (p, i) =>
      compileStep(p, if (i == 0 || p.stepType == "search") start else None,
        if (i == 0 || p.stepType == "search") end else None)
    }
    val lastGen = steps.lastIndexWhere(_.inputType == PipeType.None)
    val kept = if (lastGen <= 0) steps else steps.drop(lastGen)
    // type propagation check
    var cur = PipeType.None
    kept.foreach { s =>
      val ok = s.inputType == PipeType.None ||
        s.inputType == PipeType.Propagate ||
        s.inputType == cur
      if (!ok) throw QueryError(
        s"step '${s.name}' expects ${s.inputType} input but receives $cur")
      cur = s.outputType match {
        case PipeType.Propagate => cur
        case t => t
      }
    }
    kept
  }

  /** Execute pre-compiled steps, returning the final frame. */
  def runSteps(steps: Seq[Step]): Frame = {
    var frame: Frame = EventsFrame(withFields(events).limit(0))
    steps.foreach(s => frame = s(frame))
    frame
  }

  /** Execute a query end-to-end, returning the final frame. */
  def run(query: String,
      start: Option[Timestamp] = None, end: Option[Timestamp] = None): Frame =
    runSteps(compile(query, start, end))

  // ------------------------------------------------------------- aggregates

  /** A1 field stats: (field, value) -> occurrences
    * (internal/jobs/Engine.go:201-259). Map-side partial aggregation is
    * Catalyst's hash aggregate — no hand-rolled merge needed.
    */
  def fieldStats(frame: Frame): DataFrame = frame match {
    case EventsFrame(df) =>
      df.select(explode(col("fields")).as(Seq("key", "value")))
        .groupBy("key", "value").agg(count(lit(1)).as("occurrences"))
    case TableFrame(df, _) =>
      df.select(explode(QueryEngine.fieldPairs(frame)).as("kv"))
        .select(col("kv.key").as("key"), col("kv.value").as("value"))
        .groupBy("key", "value").agg(count(lit(1)).as("occurrences"))
  }

  /** A2: distinct value count per field key
    * (plugins/sqlite_jobs/SqliteJobRepository.go:188-205).
    */
  def fieldOccurrences(frame: Frame): DataFrame =
    fieldStats(frame).groupBy("key").agg(count(lit(1)).as("n_values"))

  /** A3: matched-event count (the per-sink count invariant,
    * SqliteJobRepository.go:226-249).
    */
  def matchedCount(frame: Frame): Long = frame.df.count()

  /** Extension: time-bucketed histogram (no reference counterpart —
    * SURVEY.md §2.3). 1h tumbling window per source.
    */
  def histogram(frame: Frame, bucket: String = "1 hour"): DataFrame = frame match {
    case EventsFrame(df) =>
      df.groupBy(window(col("ts"), bucket).as("w"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("bucket_start"), col("source"), col("n"))
    case _ => throw QueryError("histogram requires an events frame")
  }
}

object QueryEngine {
  /** Sort mode of the final frame (reference events/Repository.go:23-29):
    * the API layer orders event results newest-first.
    */
  def newestFirst(frame: Frame): DataFrame =
    frame.df.orderBy(col("ts").desc, col("doc_id"))

  /** The (key, value) pairs [[QueryEngine#fieldStats]] counts, per row, as
    * an `array<struct<key, value>>`: an event's extracted fields, or a table
    * row's columns in column order with null read as "".
    */
  def fieldPairs(frame: Frame): Column = frame match {
    case _: EventsFrame => map_entries(col("fields"))
    case TableFrame(_, order) => array(order.map(c =>
      struct(lit(c).as("key"), coalesce(col(c), lit("")).as("value"))): _*)
  }

  private val goDuration = """[-+]?(?:[0-9]*\.?[0-9]+(?:ns|us|µs|ms|s|m|h))+""".r
  private val goDurationUnit = """([0-9]*\.?[0-9]+)(ns|us|µs|ms|s|m|h)""".r
  private val unitNanos: Map[String, Double] = Map(
    "ns" -> 1d, "us" -> 1e3, "µs" -> 1e3, "ms" -> 1e6,
    "s" -> 1e9, "m" -> 6e10, "h" -> 3.6e12)

  /** Go `time.ParseDuration` (Web.go:349 passes relativeTime through it):
    * an optional sign, then one or more `<number><unit>` components that
    * cover the whole string (units ns, us/µs, ms, s, m, h). Signed nanos;
    * anything else throws IllegalArgumentException.
    */
  def goDurationNanos(s: String): Double = {
    if (!goDuration.matches(s)) throw new IllegalArgumentException(s"invalid duration: $s")
    val nanos = goDurationUnit.findAllMatchIn(s)
      .map(m => m.group(1).toDouble * unitNanos(m.group(2))).sum
    if (s.startsWith("-")) -nanos else nanos
  }

  /** Parse a search-step time option. Accepted forms mirror what the
    * reference's web layer + dateparse take (Web.go:343-383,
    * SearchPipelineStep.go:103-121):
    *   - RFC3339: `2024-01-02T15:04:05Z` / with offset;
    *   - plain date(-time): `2024-01-02` / `2024-01-02 15:04:05` (read as
    *     UTC, the engine's session zone);
    *   - Go-style relative duration: `-15m`, `1h30m`, `-1.5h` — applied to
    *     `now` (Web.go:348-358 relativeTime semantics).
    */
  def parseTimeArg(v: String, now: java.time.Instant): Option[Timestamp] = {
    import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
    def attempt[A](f: => A): Option[A] = try Some(f) catch { case _: Exception => None }
    val t = v.trim
    attempt(Instant.parse(t))
      .orElse(attempt(java.time.OffsetDateTime.parse(t).toInstant))
      .orElse(attempt(LocalDateTime.parse(t.replace(' ', 'T')).toInstant(ZoneOffset.UTC)))
      .orElse(attempt(LocalDate.parse(t).atStartOfDay.toInstant(ZoneOffset.UTC)))
      .orElse(attempt(now.plusNanos(goDurationNanos(t).toLong)))
      .map(Timestamp.from)
  }
}
