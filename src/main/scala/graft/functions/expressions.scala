package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext,
  EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.data.Vocab

/** Static runtime helpers referenced from generated (Janino) code. Scala
  * objects emit static forwarders, so `graft.functions.ExprRuntime.decode(x)`
  * is directly callable from codegen'd Java.
  */
object ExprRuntime {
  /** Render tokens through a vocab table ([[Vocab.table]], or
    * [[Vocab.tableLower]] for the lowercased text extraction consumes) into
    * `sb`, cleared first. The parse hot path passes a reused ThreadLocal
    * builder instead of allocating a String per row.
    */
  def decodeInto(arr: ArrayData, table: Array[String],
      sb: java.lang.StringBuilder): java.lang.StringBuilder = {
    sb.setLength(0)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getInt(i)
      if (t >= 0 && t < table.length) sb.append(table(t)) else sb.append('�')
      i += 1
    }
    sb
  }

  def decode(arr: ArrayData): UTF8String = UTF8String.fromString(
    decodeInto(arr, Vocab.table, new java.lang.StringBuilder(arr.numElements() * 2)).toString)

  def encode(s: UTF8String): ArrayData = {
    val ints = Vocab.encode(s.toString)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(ints)
  }

  // per-thread scratch of the extraction expressions: each call clears and
  // fully consumes them before returning, so expressions may share them
  val localFields: ThreadLocal[FieldsBuffer] =
    ThreadLocal.withInitial[FieldsBuffer](() => new FieldsBuffer)
  val localText: ThreadLocal[java.lang.StringBuilder] =
    ThreadLocal.withInitial[java.lang.StringBuilder](() => new java.lang.StringBuilder(256))

  val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Put every top-level value of the JSON object `text` into `m`
    * (stringified by [[jsonValueToString]]); false when `text` is not a
    * JSON object.
    */
  def jsonObjectInto(text: String, m: FieldsBuffer): Boolean =
    try {
      val node = jsonMapper.readTree(text)
      if (node == null || !node.isObject) false
      else {
        val it = node.fields()
        while (it.hasNext) {
          val e = it.next()
          m.put(e.getKey, jsonValueToString(e.getValue))
        }
        true
      }
    } catch { case _: Exception => false }

  /** JSON value stringification shared by the fields-map and time-only
    * extraction paths (Go parity: numbers as %f, null as "<nil>").
    */
  def jsonValueToString(v: com.fasterxml.jackson.databind.JsonNode): String =
    if (v == null) null
    else if (v.isNumber) String.format(java.util.Locale.ROOT, "%.6f", Double.box(v.asDouble()))
    else if (v.isTextual) v.asText()
    else if (v.isBoolean) String.valueOf(v.asBoolean())
    else if (v.isNull) "<nil>"
    else v.toString

  /** UTF8String straight from a char-buffer region — the extraction hot path
    * encodes each field key/value ONCE (buffer chars -> utf8 bytes) instead
    * of the String detour (subSequence String + fromString re-encode).
    * ASCII fast path; the rare non-ASCII region falls back to String.
    */
  def utf8FromChars(s: CharSequence, from: Int, to: Int): UTF8String = {
    var i = from
    while (i < to && s.charAt(i) < 0x80) i += 1
    if (i == to) {
      val b = new Array[Byte](to - from)
      var j = from
      while (j < to) { b(j - from) = s.charAt(j).toByte; j += 1 }
      UTF8String.fromBytes(b)
    } else UTF8String.fromString(s.subSequence(from, to).toString)
  }

  /** A configured time field as a map key; null (no `_time` alias) when unset. */
  def keyOrNull(k: String): UTF8String =
    if (k == null || k.isEmpty) null else UTF8String.fromString(k)

  val TIME_KEY: UTF8String = UTF8String.fromString("_time")
  val HOST_KEY: UTF8String = UTF8String.fromString("host")
  val SOURCE_KEY: UTF8String = UTF8String.fromString("source")
}

/** The one codegen bridge of graft's compiled expressions: generated code
  * calls the Scala method named [[kernel]] on the expression instance (one
  * reference object) with the children's values in child order, so
  * whole-stage codegen spans survive. The rule:
  *   - a null child nulls the result without calling the kernel (Spark's
  *     `nullSafeCodeGen` shape; no check for a non-nullable child), unless
  *     its index is in [[nullPassing]]: then the kernel gets
  *     `isNull ? null : value` (reference-typed children only);
  *   - a primitive kernel result is assigned as is; a reference result, or
  *     the boxed form of a primitive `dataType`, is null-checked unless the
  *     expression is non-nullable.
  * The interpreted face (`eval` / `nullSafeEval`) stays with each expression.
  */
trait KernelCodegen extends Expression {
  /** Name of the kernel method the generated code calls. */
  def kernel: String
  /** Indices of the children handed to the kernel as null instead. */
  def nullPassing: Set[Int] = Set.empty

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullPassing.foreach(i => require(!CodeGenerator.isPrimitiveType(children(i).dataType),
      s"$nodeName: primitive child $i cannot be passed to $kernel as null"))
    val method = getClass.getMethods
      .find(m => m.getName == kernel && m.getParameterCount == children.length && !m.isBridge)
      .getOrElse(throw new IllegalStateException(s"$nodeName has no kernel method $kernel"))
    val ref = ctx.addReferenceObj(kernel, this, getClass.getName)
    val gens = children.map(_.genCode(ctx))
    val args = children.indices.map { i =>
      if (nullPassing(i) && children(i).nullable) s"${gens(i).isNull} ? null : ${gens(i).value}"
      else gens(i).value.toString
    }
    val guards = children.indices.filter(i => !nullPassing(i) && children(i).nullable)
      .map(i => gens(i).isNull.toString)
    val call = s"$ref.$kernel(${args.mkString(", ")})"
    val jt = CodeGenerator.javaType(dataType)
    val childCode = gens.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)
    if (!nullable) return ev.copy(isNull = FalseLiteral, code = code"""$childCode
      $jt ${ev.value} = $call;""")
    val result =
      if (method.getReturnType.isPrimitive) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val boxed = ctx.freshName("boxed")
        s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
          ${ev.isNull} = $boxed == null;
          if (!${ev.isNull}) ${ev.value} = $boxed.${jt}Value();"""
      } else s"""${ev.value} = $call;
          ${ev.isNull} = ${ev.value} == null;"""
    ev.copy(code = code"""$childCode
      boolean ${ev.isNull} = ${if (guards.isEmpty) "false" else guards.mkString(" || ")};
      $jt ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      ${if (guards.isEmpty) result else s"if (!${ev.isNull}) { $result }"}""")
  }
}

/** Reusable flat fields builder: UTF8String keys/values in first-insertion
  * order with last-wins overwrite — LinkedHashMap semantics without the
  * per-row node + String + re-encode churn (the former hot-path cost: 2
  * String allocs + 2 UTF8String re-encodes per extracted pair). Events
  * carry a handful of fields, so the overwrite probe is a linear scan.
  */
final class FieldsBuffer {
  private var ks = new Array[UTF8String](16)
  private var vs = new Array[UTF8String](16)
  private var n = 0
  // events carry a handful of fields (linear probe), but a pathological
  // JSON doc can carry thousands of keys — switch to a hash index past a
  // threshold so put() stays O(1) instead of going quadratic
  private var idx: java.util.HashMap[UTF8String, Integer] = null
  private val IndexAt = 32

  def clear(): Unit = { n = 0; idx = null }
  def size: Int = n

  private def indexOf(k: UTF8String): Int = {
    if (idx != null) {
      val i = idx.get(k)
      return if (i == null) -1 else i.intValue()
    }
    var i = 0
    while (i < n) { if (ks(i).equals(k)) return i; i += 1 }
    -1
  }

  private def grow(): Unit = {
    ks = java.util.Arrays.copyOf(ks, ks.length * 2)
    vs = java.util.Arrays.copyOf(vs, vs.length * 2)
  }

  def put(k: UTF8String, v: UTF8String): Unit = {
    val i = indexOf(k)
    if (i >= 0) { vs(i) = v; return }
    if (n == ks.length) grow()
    ks(n) = k; vs(n) = v
    if (idx != null) idx.put(k, n)
    else if (n + 1 >= IndexAt) {
      idx = new java.util.HashMap[UTF8String, Integer](64)
      var j = 0
      while (j <= n) { idx.put(ks(j), j); j += 1 }
    }
    n += 1
  }

  def put(k: String, v: String): Unit =
    put(UTF8String.fromString(k), UTF8String.fromString(if (v == null) "" else v))

  def get(k: UTF8String): UTF8String = {
    val i = indexOf(k)
    if (i < 0) null else vs(i)
  }

  def build(): MapData = {
    val kk = new Array[Any](n)
    val vv = new Array[Any](n)
    var i = 0
    while (i < n) { kk(i) = ks(i); vv(i) = vs(i); i += 1 }
    new ArrayBasedMapData(new GenericArrayData(kk), new GenericArrayData(vv))
  }

  /** Close an event's fields: alias `timeField` to `_time`
    * (RegexFileParser.go:57-59), then inject the reserved host/source
    * (Fragments.go:97-98), and build the map. A null argument skips its step.
    */
  def finish(timeField: UTF8String, host: UTF8String, source: UTF8String): MapData = {
    if (timeField != null) {
      val tv = get(timeField)
      if (tv != null) put(ExprRuntime.TIME_KEY, tv)
    }
    if (host != null) put(ExprRuntime.HOST_KEY, host.clone())
    if (source != null) put(ExprRuntime.SOURCE_KEY, source.clone())
    build()
  }
}

/** Render a pre-tokenized payload back to its log-line text through the fixed
  * vocabulary. Pure concatenation — `TokensToText(TextToTokens(s)) == s`.
  * The hot parse-stage input; codegen'd (no UDF, no fallback).
  */
case class TokensToText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    ExprRuntime.decode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.decode($c)")
  override protected def withNewChildInternal(c: Expression): TokensToText = copy(child = c)
}

/** Inverse of [[TokensToText]]; used by the deterministic sequence generator. */
case class TextToTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ExprRuntime.encode(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprRuntime.encode($c)")
  override protected def withNewChildInternal(c: Expression): TextToTokens = copy(child = c)
}

/** One field-extractor regex with the reference's dispatch rule
  * (pkg/logsuck/parser/RegexFileParser.go:33-56):
  *   - every capture group named  -> each named group becomes name->value;
  *   - exactly two capture groups -> dynamic key=value (match(1)->match(2));
  *   - anything else              -> extractor is skipped (reference warns).
  * All matches are found (FindAllStringSubmatch); later matches and later
  * extractors overwrite (last-wins). Go `(?P<name>` syntax is translated to
  * Java named groups; names like `_time` that Java rejects are aliased to
  * generated safe names internally.
  */
final class CompiledExtractor(val original: String) extends Serializable {
  // Translate (?P<name>  ->  (?<gN>  recording the original names in order.
  val (javaPattern: String, groupNames: Array[String]) = {
    val rx = java.util.regex.Pattern.compile("""\(\?P?<([^>]+)>""")
    val m = rx.matcher(original)
    val sb = new java.lang.StringBuffer()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) {
      // skip escaped "\(" — Go would treat it literally too
      val st = m.start()
      if (st > 0 && original.charAt(st - 1) == '\\') {
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(m.group(0)))
      } else {
        names += m.group(1)
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(s"(?<g${names.length - 1}>"))
      }
    }
    m.appendTail(sb)
    (sb.toString, names.toArray)
  }

  @transient private lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(javaPattern)
  @transient lazy val groupCount: Int = pattern.matcher("").groupCount()
  def namedOnly: Boolean = groupNames.length == groupCount

  // Reused matcher (hot path: one per row per extractor otherwise).
  // ThreadLocal because expression instances can be shared on the driver;
  // executor tasks each own a deserialized copy, so the map stays tiny.
  @transient private lazy val localMatcher =
    ThreadLocal.withInitial[java.util.regex.Matcher](() => pattern.matcher(""))

  /** The reference's default extractor gets a hand-rolled scanner: the regex
    * engine costs ~5x more than a linear scan for this fixed shape, and the
    * default runs on every row of every kv-configured source.
    */
  val isDefaultKv: Boolean = original == "(\\w+)=(\\w+)"

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  private def regionEquals(s: CharSequence, a: Int, b: Int, t: String): Boolean = {
    if (t == null || b - a != t.length) return false
    var i = 0
    while (i < t.length) {
      if (s.charAt(a + i) != t.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Scanner with the exact match set of `(\w+)=(\w+)`: a maximal word run
    * immediately followed by '=' and a non-empty word run; the search resumes
    * after the value (matches never overlap), like Matcher.find. Verified
    * against the regex path by a ScalaCheck property (ExtractSpec).
    */
  private def kvScan(s: CharSequence,
      into: FieldsBuffer,
      timeField: String, timeOut: Array[String]): Unit = {
    val n = s.length
    var i = 0
    while (i < n) {
      if (isWordChar(s.charAt(i))) {
        var j = i + 1
        while (j < n && isWordChar(s.charAt(j))) j += 1
        if (j < n && s.charAt(j) == '=' && j + 1 < n && isWordChar(s.charAt(j + 1))) {
          var k = j + 2
          while (k < n && isWordChar(s.charAt(k))) k += 1
          if (into != null) {
            into.put(ExprRuntime.utf8FromChars(s, i, j),
              ExprRuntime.utf8FromChars(s, j + 1, k))
          } else if (regionEquals(s, i, j, timeField)) {
            timeOut(0) = s.subSequence(j + 1, k).toString
          } else if (regionEquals(s, i, j, "_time")) {
            timeOut(1) = s.subSequence(j + 1, k).toString
          }
          i = k
        } else i = j // no '=' or empty value: regex would fail here too
      } else i += 1
    }
  }

  // Named-group keys pre-encoded once (they repeat every row).
  @transient lazy val groupNamesU8: Array[UTF8String] =
    groupNames.map(UTF8String.fromString)
  @transient private lazy val EMPTY = UTF8String.fromString("")

  /** Run against `s`, writing name->value into `into` (last-wins).
    * For named-only extractors, group numbers are assigned in paren order,
    * so the i-th recorded name IS group i+1 — indexed access, no name lookup.
    */
  def extractInto(s: CharSequence, into: FieldsBuffer): Unit = {
    if (isDefaultKv) { kvScan(s, into, null, null); return }
    val m = localMatcher.get()
    m.reset(s)
    val gc = groupCount
    val named = namedOnly
    val names = groupNamesU8
    while (m.find()) {
      if (named) {
        var i = 0
        while (i < names.length) {
          val a = m.start(i + 1)
          // Go yields "" for non-participating groups
          val v = if (a < 0) EMPTY else ExprRuntime.utf8FromChars(s, a, m.end(i + 1))
          into.put(names(i), v)
          i += 1
        }
      } else if (gc == 2) {
        val ka = m.start(1)
        val va = m.start(2)
        into.put(if (ka < 0) EMPTY else ExprRuntime.utf8FromChars(s, ka, m.end(1)),
          if (va < 0) EMPTY else ExprRuntime.utf8FromChars(s, va, m.end(2)))
      }
      // else: malformed extractor, skipped (reference logs a warning)
    }
  }

  /** Time-only extraction: identical scan order, but records just the last
    * values for keys `timeField` (timeOut(0)) and "_time" (timeOut(1)) —
    * no map, no allocation for irrelevant pairs. The route path derives `ts`
    * through this, letting Catalyst prune the full fields map away.
    */
  def extractTimeInto(s: CharSequence, timeField: String, timeOut: Array[String]): Unit = {
    if (isDefaultKv) { kvScan(s, null, timeField, timeOut); return }
    val m = localMatcher.get()
    m.reset(s)
    val gc = groupCount
    val named = namedOnly
    val names = groupNames
    while (m.find()) {
      if (named) {
        var i = 0
        while (i < names.length) {
          val nm = names(i)
          if (nm == timeField) {
            val v = m.group(i + 1); timeOut(0) = if (v == null) "" else v
          } else if (nm == "_time") {
            val v = m.group(i + 1); timeOut(1) = if (v == null) "" else v
          }
          i += 1
        }
      } else if (gc == 2) {
        val k = m.group(1)
        if (k != null && k == timeField) {
          val v = m.group(2); timeOut(0) = if (v == null) "" else v
        } else if (k != null && k == "_time") {
          val v = m.group(2); timeOut(1) = if (v == null) "" else v
        }
      }
    }
  }
}

/** The (raw, host, source) -> `fields` map shape of the search-time
  * extraction expressions: one interpreted eval and the [[KernelCodegen]]
  * call into [[extract]]. `extract` gets the raw child's non-null value (a
  * string, or the tokens array) and returns null for "no map".
  */
trait FieldsExtraction extends TernaryExpression with KernelCodegen {
  def raw: Expression
  def host: Expression
  def source: Expression
  def extract(raw: Any, host: UTF8String, source: UTF8String): MapData

  override def first: Expression = raw
  override def second: Expression = host
  override def third: Expression = source
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
  override def kernel: String = "extract"
  override def nullPassing: Set[Int] = Set(1, 2)

  override def eval(input: InternalRow): Any = {
    val r = raw.eval(input)
    if (r == null) null
    else extract(r, host.eval(input).asInstanceOf[UTF8String],
      source.eval(input).asInstanceOf[UTF8String])
  }
}

/** Search-time dynamic field extraction producing the `fields` map
  * (reference: plugins/steps/Fragments.go:95-98 + RegexFileParser.Extract).
  *
  * children: (raw, host, source). When `inject` is true the reserved fields
  * `host`/`source` overwrite extracted values after extraction, and the
  * configured `timeField` is aliased to `_time` (RegexFileParser.go:57-59).
  */
case class RegexExtractToMap(
    raw: Expression,
    host: Expression,
    source: Expression,
    extractors: Seq[String],
    timeField: String,
    inject: Boolean)
  extends FieldsExtraction {

  override def nullable: Boolean = raw.nullable

  @transient private lazy val compiled: Array[CompiledExtractor] =
    extractors.map(new CompiledExtractor(_)).toArray
  @transient private lazy val timeFieldU8: UTF8String = ExprRuntime.keyOrNull(timeField)

  def extract(r: Any, hostS: UTF8String, sourceS: UTF8String): MapData = {
    val s = r.toString
    val m = ExprRuntime.localFields.get()
    m.clear()
    var i = 0
    while (i < compiled.length) { compiled(i).extractInto(s, m); i += 1 }
    m.finish(timeFieldU8, if (inject) hostS else null, if (inject) sourceS else null)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RegexExtractToMap =
    copy(raw = f, host = s, source = t)
}

/** Last-wins union of two string->string maps — the `rex` step's in-place
  * field merge (plugins/steps/RexPipelineStep.go:64-68). Unlike Spark's
  * `map_concat` this does not depend on spark.sql.mapKeyDedupPolicy.
  */
case class MapUnion(left: Expression, right: Expression)
  extends BinaryExpression with KernelCodegen {
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)
  override def nullable: Boolean = left.nullable && right.nullable
  override def kernel: String = "doUnion"
  override def nullPassing: Set[Int] = Set(0, 1)

  /** Null only when both sides are null. */
  def doUnion(l: MapData, r: MapData): MapData = {
    if (l == null && r == null) return null
    val m = new java.util.LinkedHashMap[UTF8String, UTF8String]()
    def put(d: MapData): Unit = if (d != null) {
      val ks = d.keyArray(); val vs = d.valueArray()
      var i = 0
      while (i < d.numElements()) {
        m.put(ks.getUTF8String(i), vs.getUTF8String(i))
        i += 1
      }
    }
    put(l); put(r)
    val n = m.size()
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next(); keys(j) = e.getKey; vals(j) = e.getValue; j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null && r == null) null
    else doUnion(l.asInstanceOf[MapData], r.asInstanceOf[MapData])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): MapUnion =
    copy(left = l, right = r)
}

/** JSON field extraction (reference pkg/logsuck/parser/JsonFileParser.go:35-57):
  * every top-level value stringified — numbers with Go's `%f` (6 fixed
  * decimals, the reference parses all JSON numbers as float64), booleans as
  * true/false, null as Go's "<nil>"; nested objects/arrays kept as compact
  * JSON (divergence from Go's fmt.Sprint map rendering, documented in
  * SURVEY.md §7.3). timeField aliased to `_time`; host/source injected when
  * `inject` (search-path parity with RegexExtractToMap).
  */
case class JsonToFieldsMap(
    raw: Expression,
    host: Expression,
    source: Expression,
    timeField: String,
    inject: Boolean)
  extends FieldsExtraction {

  override def nullable: Boolean = true

  @transient private lazy val timeFieldU8: UTF8String = ExprRuntime.keyOrNull(timeField)

  def extract(r: Any, hostS: UTF8String, sourceS: UTF8String): MapData = {
    val m = ExprRuntime.localFields.get()
    m.clear()
    if (!ExprRuntime.jsonObjectInto(r.toString, m)) null
    else m.finish(timeFieldU8, if (inject) hostS else null, if (inject) sourceS else null)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): JsonToFieldsMap =
    copy(raw = f, host = s, source = t)
}

/** Whole parse-stage extraction in ONE compact expression: resolves the
  * event's source to its rule through [[SourceRules]], then runs that
  * rule's extractors (regex or JSON) and injects host/source. `raw` is
  * either the rendered string or the tokens payload; tokens decode straight
  * into a reused buffer, skipping two string copies per row.
  *
  * Replaces a CASE-WHEN chain of RegexExtractToMap branches: the chain's
  * generated code grew past JIT-compilable method sizes (observed 5x
  * slowdown in wide write projections); this emits a single call.
  */
case class ExtractEvent(
    raw: Expression,
    host: Expression,
    source: Expression,
    rules: SourceRules)
  extends FieldsExtraction {

  override def nullable: Boolean = raw.nullable

  def extract(r: Any, hostS: UTF8String, sourceS: UTF8String): MapData = {
    val rule = rules.resolve(sourceS).rule
    // regex extraction runs on lowercased raw (Fragments.go:95)
    val text: CharSequence = r match {
      case a: ArrayData => ExprRuntime.decodeInto(a,
        if (rule.isJson) Vocab.table else Vocab.tableLower, ExprRuntime.localText.get())
      case s => if (rule.isJson) s.toString else s.toString.toLowerCase(java.util.Locale.ROOT)
    }
    val m = ExprRuntime.localFields.get()
    m.clear()
    if (rule.isJson) ExprRuntime.jsonObjectInto(text.toString, m): Unit
    else {
      val exs = rule.extractors
      var i = 0
      while (i < exs.length) { exs(i).extractInto(text, m); i += 1 }
    }
    m.finish(rule.timeFieldU8, hostS, sourceS)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ExtractEvent =
    copy(raw = f, host = s, source = t)
}

/** Time-field-only extraction from the tokens payload: same rule and scan
  * order as [[ExtractEvent]], but records just the `timeField` / `_time`
  * values — no map, no per-field UTF8String churn. Deriving `ts` through
  * this (instead of `fields["_time"]`) decouples the route path from the
  * full fields map, so Catalyst prunes the map away from the fan-out write
  * projection entirely.
  */
case class ExtractTimeValue(
    tokens: Expression,
    source: Expression,
    rules: SourceRules)
  extends BinaryExpression with KernelCodegen {

  override def left: Expression = tokens
  override def right: Expression = source
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def kernel: String = "doExtract"
  override def nullPassing: Set[Int] = Set(1)

  @transient private lazy val localOut =
    ThreadLocal.withInitial[Array[String]](() => new Array[String](2))

  def doExtract(arr: ArrayData, sourceS: UTF8String): UTF8String = {
    val rule = rules.resolve(sourceS).rule
    val timeField = rule.timeField
    if (rule.isJson) {
      try {
        val node = ExprRuntime.jsonMapper.readTree(
          ExprRuntime.decodeInto(arr, Vocab.table, ExprRuntime.localText.get()).toString)
        if (node == null || !node.isObject) return null
        val v = ExprRuntime.jsonValueToString(node.get(timeField))
        val r = if (v != null) v else ExprRuntime.jsonValueToString(node.get("_time"))
        if (r == null) null else UTF8String.fromString(r)
      } catch { case _: Exception => null }
    } else {
      val sb = ExprRuntime.decodeInto(arr, Vocab.tableLower, ExprRuntime.localText.get())
      val out = localOut.get()
      out(0) = null; out(1) = null
      val exs = rule.extractors
      var i = 0
      while (i < exs.length) { exs(i).extractTimeInto(sb, timeField, out); i += 1 }
      val r = if (out(0) != null) out(0) else out(1)
      if (r == null) null else UTF8String.fromString(r)
    }
  }

  override def eval(input: InternalRow): Any = {
    val t = tokens.eval(input)
    if (t == null) return null
    doExtract(t.asInstanceOf[ArrayData], source.eval(input).asInstanceOf[UTF8String])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExtractTimeValue =
    copy(tokens = l, source = r)
}

/** Per-rule event-time parse in one compact expression (reference
  * ParseTime.go:24-54 semantics: Go layouts + UNIX / UNIX_MILLIS /
  * UNIX_DECIMAL_NANOS). Case-insensitive java.time parsing (month names
  * arrive lowercased because extraction lowercases raw). The rule comes
  * from [[SourceRules]]. Returns micros since epoch; null if unparseable.
  */
case class EventTime(
    timeStr: Expression,
    source: Expression,
    rules: SourceRules)
  extends BinaryExpression with KernelCodegen {

  override def left: Expression = timeStr
  override def right: Expression = source
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def kernel: String = "doParse"
  override def nullPassing: Set[Int] = Set(1)

  @transient private lazy val layouts: Array[String] = rules.rules.map(_.config.time_layout)
  @transient private lazy val formatters: Array[AnyRef] = layouts.map {
    case go if go == "UNIX" || go == "UNIX_MILLIS" || go == "UNIX_DECIMAL_NANOS" => go
    case go =>
      new java.time.format.DateTimeFormatterBuilder()
        .parseCaseInsensitive().appendPattern(F.goLayoutToJava(go))
        .toFormatter(java.util.Locale.ROOT)
  }
  @transient private lazy val isDefaultKv: Array[Boolean] =
    layouts.map(_ == "2006/01/02 15:04:05.000000")
  @transient private lazy val isAccessLayout: Array[Boolean] =
    layouts.map(_ == "02/Jan/2006:15:04:05 -0700")

  /** Days from 1970-01-01 to a proleptic Gregorian date (Howard Hinnant's
    * days-from-civil algorithm, public domain).
    */
  private def daysFromCivil(year: Int, month: Int, day: Int): Long = {
    val y = if (month <= 2) year - 1 else year
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400
    val mp = (month + 9) % 12
    val doy = (153 * mp + 2) / 5 + day - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Allocation-free fast path for the reference's default kv layout
    * ("2006/01/02 15:04:05.000000"): fixed-width numeric parse + the
    * days-from-civil epoch formula. ~50x cheaper than DateTimeFormatter.
    */
  private def fastKv(v: String): java.lang.Long = {
    if (v.length != 26 || v.charAt(4) != '/' || v.charAt(7) != '/' ||
      v.charAt(10) != ' ' || v.charAt(13) != ':' || v.charAt(16) != ':' ||
      v.charAt(19) != '.') return null
    var i = 0
    def d2(a: Int): Int = {
      val c1 = v.charAt(a); val c2 = v.charAt(a + 1)
      if (c1 < '0' || c1 > '9' || c2 < '0' || c2 > '9') return -1
      (c1 - '0') * 10 + (c2 - '0')
    }
    val c0 = v.charAt(0); val c1 = v.charAt(1)
    if (c0 < '0' || c0 > '9' || c1 < '0' || c1 > '9') return null
    val year = (c0 - '0') * 1000 + (c1 - '0') * 100 + d2(2)
    val month = d2(5); val day = d2(8)
    val hh = d2(11); val mm = d2(14); val ss = d2(17)
    if (month < 1 || month > 12 || day < 1 || day > 31 || hh < 0 || mm < 0 || ss < 0) return null
    var micros = 0L
    i = 20
    while (i < 26) {
      val c = v.charAt(i)
      if (c < '0' || c > '9') return null
      micros = micros * 10 + (c - '0')
      i += 1
    }
    val days = daysFromCivil(year, month, day)
    java.lang.Long.valueOf(
      ((days * 86400L + hh * 3600L + mm * 60L + ss) * 1000000L) + micros)
  }

  /** Allocation-free fast path for the common-log-format layout
    * ("02/Jan/2006:15:04:05 -0700", e.g. `20/jan/2021:19:37:00 +0000`) —
    * the second-hottest layout after the default kv one (every access-*
    * row of the pipeline and the mixed corpus parses through it). Same
    * approach as [[fastKv]]: fixed-width numeric parse + month-abbrev
    * lookup + days-from-civil; case-insensitive like the formatter it
    * replaces. Falls back (null) to the DateTimeFormatter path on any
    * shape mismatch.
    */
  private def fastAccess(v: String): java.lang.Long = {
    if (v.length != 26 || v.charAt(2) != '/' || v.charAt(6) != '/' ||
      v.charAt(11) != ':' || v.charAt(14) != ':' || v.charAt(17) != ':' ||
      v.charAt(20) != ' ') return null
    def d2(a: Int): Int = {
      val c1 = v.charAt(a); val c2 = v.charAt(a + 1)
      if (c1 < '0' || c1 > '9' || c2 < '0' || c2 > '9') return -1
      (c1 - '0') * 10 + (c2 - '0')
    }
    val day = d2(0)
    @inline def lc(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    val m1 = lc(v.charAt(3)); val m2 = lc(v.charAt(4)); val m3 = lc(v.charAt(5))
    val month = (m1: @unchecked) match {
      case 'j' => if (m2 == 'a' && m3 == 'n') 1
        else if (m2 == 'u' && m3 == 'n') 6
        else if (m2 == 'u' && m3 == 'l') 7 else -1
      case 'f' => if (m2 == 'e' && m3 == 'b') 2 else -1
      case 'm' => if (m2 == 'a' && m3 == 'r') 3
        else if (m2 == 'a' && m3 == 'y') 5 else -1
      case 'a' => if (m2 == 'p' && m3 == 'r') 4
        else if (m2 == 'u' && m3 == 'g') 8 else -1
      case 's' => if (m2 == 'e' && m3 == 'p') 9 else -1
      case 'o' => if (m2 == 'c' && m3 == 't') 10 else -1
      case 'n' => if (m2 == 'o' && m3 == 'v') 11 else -1
      case 'd' => if (m2 == 'e' && m3 == 'c') 12 else -1
      case _ => -1
    }
    val yh = d2(7); val yl = d2(9)
    val hh = d2(12); val mm = d2(15); val ss = d2(18)
    val sign = v.charAt(21) match {
      case '+' => 1L
      case '-' => -1L
      case _ => return null
    }
    val oh = d2(22); val om = d2(24)
    if (day < 1 || day > 31 || month < 0 || yh < 0 || yl < 0 ||
      hh < 0 || hh > 23 || mm < 0 || mm > 59 || ss < 0 || ss > 59 ||
      oh < 0 || om < 0 || om > 59) return null
    val year = yh * 100 + yl
    // out-of-month days (e.g. 31/apr, 30/feb) fall back to the formatter:
    // its SMART resolver CLAMPS them, and the fast path must not diverge
    // from the pre-existing behavior on any input
    val leap = year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)
    val dim = month match {
      case 2 => if (leap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (day > dim) return null
    val days = daysFromCivil(year, month, day)
    val offsetSecs = sign * (oh * 3600L + om * 60L)
    java.lang.Long.valueOf(
      (days * 86400L + hh * 3600L + mm * 60L + ss - offsetSecs) * 1000000L)
  }

  /** null (boxed) when unparseable — callers coalesce a fallback. */
  def doParse(value: UTF8String, sourceS: UTF8String): java.lang.Long = {
    if (value == null) return null
    val idx = rules.resolve(sourceS).rule.index
    val v = value.toString
    if (isDefaultKv(idx)) return fastKv(v)
    if (isAccessLayout(idx)) {
      val r = fastAccess(v)
      if (r != null) return r
      // fall through to the formatter on shape mismatch
    }
    try {
      formatters(idx) match {
        case "UNIX" => java.lang.Long.valueOf(v.trim.toLong * 1000000L)
        case "UNIX_MILLIS" => java.lang.Long.valueOf(v.trim.toLong * 1000L)
        case "UNIX_DECIMAL_NANOS" =>
          val dot = v.indexOf('.')
          if (dot < 0) return null
          val sec = v.substring(0, dot).toLong
          val nanos = v.substring(dot + 1).toLong // Go quirk: decimals as int nanos
          java.lang.Long.valueOf(sec * 1000000L + nanos / 1000L)
        case f: java.time.format.DateTimeFormatter =>
          val ta = f.parse(v)
          val date =
            if (ta.isSupported(java.time.temporal.ChronoField.EPOCH_DAY))
              java.time.LocalDate.from(ta)
            else java.time.LocalDate.of(1970, 1, 1)
          val time =
            if (ta.isSupported(java.time.temporal.ChronoField.NANO_OF_DAY))
              java.time.LocalTime.from(ta)
            else java.time.LocalTime.MIDNIGHT
          val offset =
            if (ta.isSupported(java.time.temporal.ChronoField.OFFSET_SECONDS))
              java.time.ZoneOffset.from(ta)
            else java.time.ZoneOffset.UTC
          val odt = java.time.OffsetDateTime.of(date, time, offset)
          java.lang.Long.valueOf(odt.toInstant.getEpochSecond * 1000000L +
            odt.getNano / 1000L)
      }
    } catch { case _: Exception => null }
  }

  override def eval(input: InternalRow): Any = {
    val v = timeStr.eval(input)
    if (v == null) return null
    doParse(v.asInstanceOf[UTF8String], source.eval(input).asInstanceOf[UTF8String])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): EventTime =
    copy(timeStr = l, source = r)
}

/** The enrich stage in ONE compact expression: the source's
  * (host, host_type, file_type) from its [[SourceRules]] rule, plus its
  * filesystem-safe sink key (every char outside `[A-Za-z0-9_-]` becomes
  * `_`). All four are pure functions of `source` and come out of the rule
  * table's per-source memo, so a row costs one hash probe and no side plan
  * (distinct + join + broadcast) runs to resolve a handful of sources.
  */
case class ResolveSource(source: Expression, rules: SourceRules)
  extends UnaryExpression with KernelCodegen {

  override def child: Expression = source
  override def dataType: DataType = ResolveSource.schema
  override def nullable: Boolean = false
  override def kernel: String = "resolve"
  override def nullPassing: Set[Int] = Set(0)

  def resolve(sourceS: UTF8String): InternalRow = rules.resolve(sourceS).row

  override def eval(input: InternalRow): Any =
    resolve(source.eval(input).asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression): ResolveSource =
    copy(source = c)
}

object ResolveSource {
  val schema: StructType = StructType(Seq(
    StructField("host", StringType, nullable = false),
    StructField("host_type", StringType, nullable = false),
    StructField("file_type", StringType, nullable = false),
    StructField("sink", StringType, nullable = true)))
}
