package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import graft.model.SourceConfig

/** The per-source rule table of the parse and enrich stages (reference J2,
  * plugins/steps/Utils.go:24-49): each config's `source_glob` is tried in
  * config order, the first match wins, and a source no glob matches (or a
  * null source) gets the fallback rule — the default extractors, `_time`,
  * the default layout and (`unknown-host`, `unknown`, `kv`).
  *
  * The answer is memoized per distinct source bytes, so a row costs one
  * hash probe and no `toString`. A hit carries the rule and the source's
  * enrich row `(host, host_type, file_type, sink)`. All state is transient
  * and lazy: an instance serves exactly one config snapshot (one per
  * micro-batch under hot reload) and never outlives it. A case class, so
  * expressions holding equal tables stay equal.
  */
case class SourceRules(configs: Seq[SourceConfig]) {
  import SourceRules._

  /** The rules in config order, then the fallback at index `configs.length`. */
  @transient lazy val rules: Array[Rule] =
    (configs :+ Fallback).zipWithIndex.map { case (c, i) => new Rule(i, c) }.toArray

  @transient private lazy val globs: Array[java.util.regex.Pattern] =
    configs.map(c => java.util.regex.Pattern.compile(globToRegex(c.source_glob))).toArray
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Resolved]()
  @transient private lazy val nullSource: Resolved = resolved(null)

  private def resolved(source: String): Resolved = {
    val i = if (source == null) -1 else globs.indexWhere(_.matcher(source).matches())
    val rule = rules(if (i < 0) configs.length else i)
    val c = rule.config
    val sink =
      if (source == null) null
      else UTF8String.fromString(source.replaceAll("[^A-Za-z0-9_-]", "_"))
    new Resolved(rule, InternalRow(UTF8String.fromString(c.host),
      UTF8String.fromString(c.host_type), UTF8String.fromString(c.file_type), sink))
  }

  def resolve(source: UTF8String): Resolved = {
    if (source == null) return nullSource
    val hit = memo.get(source)
    if (hit != null) hit
    // the key may point into a reused input buffer: store a private copy
    else memo.computeIfAbsent(source.clone(), k => resolved(k.toString))
  }
}

object SourceRules {
  private val Fallback = SourceConfig("", "kv", SourceConfig.defaultExtractors, "_time",
    SourceConfig.defaultTimeLayout, "unknown-host", "unknown")

  /** One rule, compiled once per table. */
  final class Rule(val index: Int, val config: SourceConfig) {
    val extractors: Array[CompiledExtractor] =
      config.extractors.map(new CompiledExtractor(_)).toArray
    val isJson: Boolean = config.file_type == "json"
    /** The key that names the event time. An empty `time_field` only
      * disables the alias: an extracted `_time` still names it.
      */
    val timeField: String =
      if (config.time_field == null || config.time_field.isEmpty) "_time" else config.time_field
    val timeFieldU8: UTF8String = UTF8String.fromString(timeField)
  }

  /** A memo hit: the source's rule and its shared, never-mutated enrich row. */
  final class Resolved(val rule: Rule, val row: InternalRow)

  /** filepath.Match-style glob (reference plugins/steps/Utils.go:41) as an
    * anchored regex: `*` does not cross `/`; `?` matches one non-/ char.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append("[^/]*")
      case '?' => sb.append("[^/]")
      case c if "\\.[]{}()+-^$|".contains(c) => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }
}
