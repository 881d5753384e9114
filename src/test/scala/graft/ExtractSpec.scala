package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.F

/** Extraction-expression semantics, ported from
  * plugins/steps/RexPipelineStep_test.go:28-210 (regex dispatch rules),
  * pkg/logsuck/parser/JsonFileParser_test.go:25-40 (%f stringify) and
  * ParseTime.go:24-54 (layouts).
  */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def extractMap(raw: String, rex: String): Map[String, String] =
    Seq(raw).toDF("raw")
      .select(F.rex_extract(col("raw"), rex).as("m"))
      .as[Map[String, String]].head()

  test("named group extraction (RexPipelineStep_test.go:28-60)") {
    val m = extractMap("2021-01-20 19:37:00 The user did something. The userid was 123.",
      "userid was (?P<userid>\\d+).")
    assert(m("userid") == "123")
  }

  test("two-group dynamic key=value, all matches (RexPipelineStep_test.go:63-98)") {
    val m = extractMap("2021-01-20 19:37:00 The user did something. userid=123, thingid=456.",
      "(\\w+)=(\\w+)")
    assert(m("userid") == "123")
    assert(m("thingid") == "456")
  }

  test("later matches overwrite (last-wins, RegexFileParser.go:44-52)") {
    val m = extractMap("a=1 b=2 a=3", "(\\w+)=(\\w+)")
    assert(m("a") == "3")
    assert(m("b") == "2")
  }

  test("malformed extractor (3 unnamed groups) extracts nothing") {
    val m = extractMap("a=1", "(\\w)(=)(\\w)")
    assert(m.isEmpty)
  }

  test("_time alias from timeField (RegexFileParser.go:57-59)") {
    val m = Seq("2021/01/20 19:37:00.123456 hello a=1").toDF("raw")
      .select(F.extract_fields(lower(col("raw")), lit("h"), lit("s"),
        graft.model.SourceConfig.defaultExtractors, "_time").as("m"))
      .as[Map[String, String]].head()
    assert(m("_time") == "2021/01/20 19:37:00.123456")
    assert(m("a") == "1")
    assert(m("host") == "h")
    assert(m("source") == "s")
  }

  test("host/source injection overwrites extracted values (Fragments.go:97-98)") {
    val m = Seq("host=fake source=fake").toDF("raw")
      .select(F.extract_fields(col("raw"), lit("real-host"), lit("real-src"),
        Seq("(\\w+)=(\\w+)"), "_time").as("m"))
      .as[Map[String, String]].head()
    assert(m("host") == "real-host")
    assert(m("source") == "real-src")
  }

  test("json extraction stringifies numbers with %f (JsonFileParser_test.go:25-40)") {
    val line = """{"level":"info","ts":1675006830.0893068,"logger":"reloadFileWatchers","msg":"reloading file watchers","newIndexedFilesLen":3,"oldIndexedFilesLen":0}"""
    val m = Seq(line).toDF("raw")
      .select(F.json_extract_map(col("raw"), "ts").as("m"))
      .as[Map[String, String]].head()
    assert(m("level") == "info")
    assert(m("ts") == "1675006830.089307")
    assert(m("newIndexedFilesLen") == "3.000000")
    assert(m("_time") == "1675006830.089307")
  }

  /** `F.event_time` under a one-rule config whose time layout is `layout`. */
  private def eventTime(value: Column, layout: String): Column =
    F.event_time(value, lit("t.log"), Seq(graft.model.SourceConfig("t.log", "kv",
      Seq(), "_time", layout, "h", "t")))

  test("event_time UNIX variants (ParseTime.go:24-54)") {
    val df = Seq(("1611171420", "1611171420123", "1611171420.000123")).toDF("u", "um", "un")
    val r = df.select(
      eventTime(col("u"), "UNIX").cast("long").as("a"),
      eventTime(col("um"), "UNIX_MILLIS").cast("string").as("b"),
      eventTime(col("un"), "UNIX_DECIMAL_NANOS").cast("string").as("c")).head()
    assert(r.getLong(0) == 1611171420L)
    assert(r.getString(1) == "2021-01-20 19:37:00.123")
    // 123 "decimal nanos" -> 0.000000123s -> truncated to microseconds
    assert(r.getString(2) == "2021-01-20 19:37:00")
  }

  test("event_time Go layout (default kv layout)") {
    val r = Seq("2021/01/20 19:37:00.123456").toDF("t")
      .select(eventTime(col("t"), "2006/01/02 15:04:05.000000").cast("string")).head()
    assert(r.getString(0) == "2021-01-20 19:37:00.123456")
  }

  test("event_time access-layout fast path matches the formatter semantics") {
    // exercises EventTime.fastAccess (the fixed-width common-log parser):
    // lowercase month (extraction lowercases raw), uppercase month
    // (case-insensitive like the formatter), non-UTC offsets both signs,
    // leap day, and an out-of-month day that must FALL BACK to the
    // formatter (whose SMART resolver clamps 31/apr to 30/apr)
    val cfgs = Seq(graft.model.SourceConfig("access-*.log", "access",
      Seq(), "_time", "02/Jan/2006:15:04:05 -0700", "web-host", "web"))
    val rows = Seq(
      "20/jan/2021:19:37:00 +0000" -> "2021-01-20 19:37:00",
      "20/JAN/2021:19:37:00 +0000" -> "2021-01-20 19:37:00",
      "01/mar/2021:01:30:00 +0530" -> "2021-02-28 20:00:00",
      "31/dec/2020:23:00:00 -0200" -> "2021-01-01 01:00:00",
      "29/feb/2020:12:00:00 +0000" -> "2020-02-29 12:00:00",
      "31/apr/2021:08:00:00 +0000" -> "2021-04-30 08:00:00")
    rows.foreach { case (in, want) =>
      val got = Seq((in, "access-0.log")).toDF("t", "source")
        .select(F.event_time(col("t"), col("source"), cfgs).cast("string"))
        .head().getString(0)
      assert(got == want, s"$in -> $got, want $want")
    }
    // unparseable shapes stay null
    val bad = Seq(("99/xxx/2021:00:00:00 +0000", "access-0.log")).toDF("t", "source")
      .select(F.event_time(col("t"), col("source"), cfgs)).head()
    assert(bad.isNullAt(0))
  }

  test("compileFrag rules (Fragments.go:74-89)") {
    assert(F.compileFrag("abc") == "(?i)(^|\\W)abc($|\\W)")
    assert(F.compileFrag("ab*") == "(?i)(^|\\W)ab.*")
    // reference also drops the (?i) for leading-* fragments (it lives inside
    // `pre`) — we keep case-insensitivity uniform (SURVEY.md §7.3 quirk rule)
    assert(F.compileFrag("*bc") == "(?i).*bc($|\\W)")
    assert(F.compileFrag("a*c") == "(?i)(^|\\W)a.*c($|\\W)")
  }

  test("fragment word-boundary matching") {
    val df = Seq("eventType=error more", "terrors everywhere", "ERROR at end").toDF("raw")
    val got = df.filter(F.fragMatches(col("raw"), "error")).count()
    assert(got == 2) // word-boundary excludes 'terrors'; case-insensitive includes ERROR
  }

  test("property: default kv scanner == regex engine; time tracker == map") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val fast = new graft.functions.CompiledExtractor("(\\w+)=(\\w+)")
    // same language, different text -> takes the java.util.regex path
    val slow = new graft.functions.CompiledExtractor("((?:\\w)+)=(\\w+)")
    assert(fast.isDefaultKv && !slow.isDefaultKv)
    val chars = Gen.frequency(6 -> Gen.alphaNumChar, 3 -> Gen.const('='),
      2 -> Gen.const(' '), 1 -> Gen.const('_'), 1 -> Gen.const('.'),
      1 -> Gen.const("_time=").flatMap(s => Gen.const(s.head))) // bias '=' runs
    val strs = Gen.listOf(Gen.frequency(
      12 -> chars, 1 -> Gen.const('k'), 1 -> Gen.const('1'))).map(_.mkString)
    val withTime = strs.flatMap(s => Gen.oneOf(s, s"_time=20 $s", s"$s k1=v9"))
    def pairs(fb: graft.functions.FieldsBuffer): Seq[(String, String)] = {
      val md = fb.build()
      (0 until md.numElements()).map(i =>
        md.keyArray().getUTF8String(i).toString -> md.valueArray().getUTF8String(i).toString)
    }
    val prop = Prop.forAll(withTime) { s =>
      val a = new graft.functions.FieldsBuffer
      val b = new graft.functions.FieldsBuffer
      fast.extractInto(s, a)
      slow.extractInto(s, b)
      val out = Array[String](null, null)
      fast.extractTimeInto(s, "k1", out)
      val am = pairs(a).toMap
      pairs(a) == pairs(b) && out(0) == am.get("k1").orNull && out(1) == am.get("_time").orNull
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("FieldsBuffer: hash-index path beyond 32 keys keeps insertion-order/overwrite semantics") {
    import org.apache.spark.unsafe.types.UTF8String
    val fb = new graft.functions.FieldsBuffer
    (0 until 100).foreach(i =>
      fb.put(UTF8String.fromString("k" + i), UTF8String.fromString("v" + i)))
    fb.put(UTF8String.fromString("k5"), UTF8String.fromString("OVERWRITE"))
    val md = fb.build()
    assert(md.numElements() == 100)
    assert(md.keyArray().getUTF8String(5).toString == "k5")
    assert(md.valueArray().getUTF8String(5).toString == "OVERWRITE")
    assert(fb.get(UTF8String.fromString("k99")).toString == "v99")
    assert(fb.get(UTF8String.fromString("missing")) == null)
    fb.clear()
    fb.put(UTF8String.fromString("a"), UTF8String.fromString("1"))
    assert(fb.size == 1 && fb.build().numElements() == 1)
  }

  test("ts via time-only extraction == ts via fields[_time] (pipeline parity)") {
    import graft.data.SequenceGen
    val seqs = SequenceGen.sequences(spark, 2000, 8)
    val parsed = graft.plans.LogPipeline.parse(seqs)
    val cfgs = SequenceGen.configs
    val viaFields = graft.plans.LogPipeline.enrichStatic(parsed, cfgs)
      .withColumn("ts2", graft.plans.LogPipeline.tsColumn(cfgs))
    val diff = viaFields.filter(col("ts") =!= col("ts2")).count()
    assert(diff == 0)
  }
}
