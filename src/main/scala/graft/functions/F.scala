package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** Column-level facade over the custom expressions + the reference's tiny
  * scalar repertoire (SURVEY.md §2.6).
  */
object F {
  private def toCol(e: Expression): Column = Bridge.column(e)
  private def toExpr(c: Column): Expression = Bridge.expression(c)
  private val nullStr: Expression = Literal(null, StringType)

  def tokens_to_text(c: Column): Column = toCol(TokensToText(toExpr(c)))
  def text_to_tokens(c: Column): Column = toCol(TextToTokens(toExpr(c)))

  /** Full search-time extraction: extractors over (lowercased) raw, reserved
    * host/source injected, timeField aliased to `_time`.
    */
  def extract_fields(raw: Column, host: Column, source: Column,
      extractors: Seq[String], timeField: String): Column =
    toCol(RegexExtractToMap(toExpr(raw), toExpr(host), toExpr(source),
      extractors, timeField, inject = true))

  /** `rex`-style single-extractor run, no injection, no _time alias. */
  def rex_extract(src: Column, rex: String): Column =
    toCol(RegexExtractToMap(toExpr(src), nullStr, nullStr, Seq(rex), "", inject = false))

  /** Last-wins map merge (rex merges new fields over existing ones). */
  def map_union(l: Column, r: Column): Column = toCol(MapUnion(toExpr(l), toExpr(r)))

  /** JSON extraction without host/source injection (parser unit semantics). */
  def json_extract_map(raw: Column, timeField: String): Column =
    toCol(JsonToFieldsMap(toExpr(raw), nullStr, nullStr, timeField, inject = false))

  /** Whole parse-stage extraction with per-source config dispatch (see
    * ExtractEvent and SourceRules). `raw` is the rendered string or the
    * tokens payload, which decodes into a reused buffer.
    */
  def extract_event(raw: Column, host: Column, source: Column,
      configs: Seq[graft.model.SourceConfig]): Column =
    toCol(ExtractEvent(toExpr(raw), toExpr(host), toExpr(source), SourceRules(configs)))

  /** Time-field-only extraction from tokens (see ExtractTimeValue): yields
    * the same string `fields["_time"]` would, without building the map.
    */
  def extract_time_tokens(tokens: Column, source: Column,
      configs: Seq[graft.model.SourceConfig]): Column =
    toCol(ExtractTimeValue(toExpr(tokens), toExpr(source), SourceRules(configs)))

  /** Per-source enrich struct `(host, host_type, file_type, sink)`, memoized
    * per distinct source (see ResolveSource).
    */
  def resolve_source(source: Column, configs: Seq[graft.model.SourceConfig]): Column =
    toCol(ResolveSource(toExpr(source), SourceRules(configs)))

  /** Per-source event-time parse (see EventTime). */
  def event_time(timeStr: Column, source: Column,
      configs: Seq[graft.model.SourceConfig]): Column =
    toCol(EventTime(toExpr(timeStr), toExpr(source), SourceRules(configs)))

  /** Compile a search fragment to the reference's regex form
    * (plugins/steps/Fragments.go:74-89): case-insensitive, `*` -> `.*`,
    * word-boundary anchors unless the fragment starts/ends with `*`.
    */
  def compileFrag(frag: String): String = {
    val pre = if (frag.startsWith("*")) "" else "(^|\\W)"
    val post = if (frag.endsWith("*")) "" else "($|\\W)"
    "(?i)" + pre + frag.replace("*", ".*") + post
  }

  /** Predicate: does `c` contain fragment `frag` under reference semantics. */
  def fragMatches(c: Column, frag: String): Column = c.rlike(compileFrag(frag))

  /** filepath.Match-style glob as an anchored regex (see SourceRules). */
  def globToRegex(glob: String): String = SourceRules.globToRegex(glob)

  /** Translate a Go reference-time layout (Mon Jan 2 15:04:05 MST 2006) to a
    * java.time DateTimeFormatter pattern. Covers the tokens the reference's
    * configs and docs use; longest-match first.
    */
  def goLayoutToJava(layout: String): String = {
    val subs: Seq[(String, String)] = Seq(
      "2006" -> "yyyy",
      "January" -> "MMMM", "Jan" -> "MMM",
      "01" -> "MM",
      "Monday" -> "EEEE", "Mon" -> "EEE",
      "02" -> "dd", "_2" -> "d",
      "15" -> "HH", "03" -> "hh",
      "04" -> "mm",
      "05" -> "ss",
      ".000000000" -> ".SSSSSSSSS", ".000000" -> ".SSSSSS", ".000" -> ".SSS",
      "999999999" -> "SSSSSSSSS", "999999" -> "SSSSSS", "999" -> "SSS",
      "PM" -> "a",
      "Z07:00" -> "XXX", "Z0700" -> "XX",
      "-07:00" -> "xxx", "-0700" -> "xx", "-07" -> "x",
      "MST" -> "zzz"
    )
    val sb = new StringBuilder
    var i = 0
    while (i < layout.length) {
      subs.find { case (go, _) => layout.startsWith(go, i) } match {
        case Some((go, java)) => sb.append(java); i += go.length
        case None =>
          val c = layout.charAt(i)
          // quote literal letters that would be pattern chars in java.time
          if (c.isLetter) sb.append('\'').append(c).append('\'') else sb.append(c)
          i += 1
      }
    }
    sb.toString
  }
}
