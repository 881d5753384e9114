package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.{EventsFrame, QueryEngine, QueryError, TableFrame}
import graft.model.SourceConfig

/** Ported reference step tests over the engine: fixtures from
  * plugins/steps/RexPipelineStep_test.go, WherePipelineStep_test.go,
  * SearchPipelineStep_test.go, SurroundingPipelineStep_test.go,
  * TablePipelineStep_test.go and Utils_test.go:31-109.
  */
class StepsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T0 = Timestamp.valueOf("2021-01-20 19:37:00")
  private val SID = "1a9a7cd6-0f00-4aa6-ae2e-1ad17d40bb35"

  /** (doc_id, source, host, source_id, ts, offset, raw) */
  private def frame(rows: (String, String, String, String, Timestamp, Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "source", "host", "source_id", "ts", "offset", "raw")

  private val fixtureConfigs = Seq(
    SourceConfig("my-log*.txt", "kv", SourceConfig.defaultExtractors, "_time",
      SourceConfig.defaultTimeLayout, "my-host", "app"),
    SourceConfig("log-*.txt", "kv", SourceConfig.defaultExtractors, "_time",
      SourceConfig.defaultTimeLayout, "my-host", "app"))

  private def engine(df: DataFrame) = new QueryEngine(df, fixtureConfigs)

  private def fieldsOf(e: QueryEngine, query: String): Map[String, String] = {
    val f = e.run(query)
    f.df.select(col("fields")).as[Map[String, String]].head()
  }

  test("rex: named group (RexPipelineStep_test.go:28-60)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 The user did something. The userid was 123.")))
    val m = fieldsOf(e, "| rex \"userid was (?P<userid>\\d+).\"")
    assert(m("userid") == "123")
  }

  test("rex: multiple extractions (RexPipelineStep_test.go:63-98)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 The user did something. userid=123, thingid=456.")))
    val m = fieldsOf(e, "| rex \"(\\w+)=(\\w+)\"")
    assert(m("userid") == "123")
    assert(m("thingid") == "456")
  }

  test("rex: field=source (RexPipelineStep_test.go:139-173)") {
    val e = engine(frame(("1", "log-123.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 The user did something. The userid was 123.")))
    val m = fieldsOf(e, "| rex field=source \"log-(?P<logid>\\d+)\"")
    assert(m("logid") == "123")
  }

  test("rex: field=host (RexPipelineStep_test.go:176-210)") {
    val e = engine(frame(("1", "log-123.txt", "host-123", SID, T0, 0L,
      "2021-01-20 19:37:00 The user did something. The userid was 123.")))
    val m = fieldsOf(e, "| rex field=host \"host-(?P<hostid>\\d+)\"")
    assert(m("hostid") == "123")
  }

  test("rex: missing source field passes event through unchanged (RexPipelineStep.go:53)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 a=1")))
    val f = e.run("| rex field=NoSuchField \"x(?P<y>\\d+)\"")
    assert(f.df.count() == 1)
    val m = f.df.select(col("fields")).as[Map[String, String]].head()
    assert(!m.contains("y"))
    assert(m("a") == "1") // pre-existing fields intact
  }

  test("where: filters on extracted field (WherePipelineStep_test.go:28-154)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L,
        "2021-01-20 19:37:00 The user did something. userid=123, thingid=456."),
      ("2", "my-log.txt", "my-host", SID, T0, 50L,
        "2021-01-20 19:37:00 The user did something. userid=456, thingid=9.")))
    assert(e.run("| where userid=123").df.count() == 1)
    assert(e.run("| where userid=123 thingid=456").df.count() == 1)
    assert(e.run("| where userid=123 thingid=9").df.count() == 0)
    assert(e.run("| where userid=999").df.count() == 0)
  }

  test("where on table rows (WherePipelineStep propagate type)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "2021-01-20 x userid=123"),
      ("2", "my-log.txt", "my-host", SID, T0, 50L, "2021-01-20 x userid=456")))
    val f = e.run("| table \"userid\" | where userid=123")
    assert(f.df.count() == 1)
    assert(f.df.head().getString(0) == "123")
  }

  test("search roundtrip (SearchPipelineStep_test.go:27-65)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 The user did something. The userid was 123.")))
    assert(e.run("userid").df.count() == 1)
    assert(e.run("nosuchword").df.count() == 0)
  }

  test("surrounding: 5 events 2 sources -> 3 same-source desc (SurroundingPipelineStep_test.go:27-108)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", "sid-1", T0, 0L, "2021-01-20 19:37:00 a"),
      ("2", "my-log.txt", "my-host", "sid-1", T0, 50L, "2021-01-20 19:37:00 b"),
      ("3", "my-log.txt", "my-host", "sid-1", T0, 100L, "2021-01-20 19:37:00 c"),
      ("4", "my-log-2.txt", "my-host", "sid-2", T0, 0L, "2021-01-20 19:37:00 d"),
      ("5", "my-log-2.txt", "my-host", "sid-2", T0, 50L, "2021-01-20 19:37:00 e")))
    val rows = e.run("| surrounding eventId=3").df
      .select("doc_id", "offset").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("3", "2", "1"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(100L, 50L, 0L))
  }

  test("surrounding compiles lazily: no Spark job runs at plan time") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "a"),
      ("2", "my-log.txt", "my-host", SID, T0, 1L, "b")))
    // build only, no action
    val (_, planEvents) = TestSpark.observe(e.run("| surrounding count=2 eventId=1"))
    assert(planEvents.jobs.isEmpty, "building a surrounding plan must not trigger a job")
  }

  test("table: empty fields is a compile error (TablePipelineStep_test.go:19-24)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L, "x")))
    intercept[QueryError] { e.compile("| table \"\"") }
  }

  test("table: ordered columns, missing -> empty (TablePipelineStep.go:29-85)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L,
      "2021-01-20 19:37:00 userid=123")))
    e.run("| table \"userid,missing,host\"") match {
      case TableFrame(df, order) =>
        assert(order == Seq("userid", "missing", "host"))
        assert(df.columns.toSeq == Seq("userid", "missing", "host"))
        val r = df.head()
        assert(r.getString(0) == "123" && r.getString(1) == "" && r.getString(2) == "my-host")
      case _ => fail("expected table frame")
    }
  }

  test("kv prefilter keeps exact field-match semantics on substring traps") {
    val e = engine(frame(
      // key as a SUFFIX of another key: zzuserid=13 must not match userid=13
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "x zzuserid=13"),
      // value prefix trap: userid=139 must not match userid=13
      ("2", "my-log.txt", "my-host", SID, T0, 1L, "x userid=139"),
      ("3", "my-log.txt", "my-host", SID, T0, 2L, "x userid=13"),
      // wildcard value: userid=13* matches 13 and 139
      ("4", "my-log.txt", "my-host", SID, T0, 3L, "x none here")))
    import spark.implicits._
    def ids(q: String) = e.run(q).df.select("doc_id").as[String].collect().toSet
    assert(ids("userid=13") == Set("3"))
    assert(ids("userid=13*") == Set("2", "3"))
    assert(ids("userid!=13") == Set("1", "2", "4"), "negated predicate is never prefiltered")
  }

  test("search step time options bound the step itself (SearchPipelineStep.go:103-121)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, Timestamp.valueOf("2021-01-20 10:00:00"), 0L, "x early"),
      ("2", "my-log.txt", "my-host", SID, Timestamp.valueOf("2021-01-20 12:00:00"), 1L, "x mid"),
      ("3", "my-log.txt", "my-host", SID, Timestamp.valueOf("2021-01-20 14:00:00"), 2L, "x late")))
    val ids = e.run(
      "| search startTime=\"2021-01-20T11:00:00Z\" endTime=\"2021-01-20T13:00:00Z\" x")
      .df.select("doc_id").as[String].collect().toSet
    assert(ids == Set("2"), "step-level bounds must filter (bounds inclusive)")
    // step options override API-level bounds; absent options inherit them
    val inherit = e.run("| search endTime=\"2021-01-20T13:00:00Z\" x",
      start = Some(Timestamp.valueOf("2021-01-20 11:00:00")))
      .df.select("doc_id").as[String].collect().toSet
    assert(inherit == Set("2"))
    val err = intercept[QueryError](e.run("| search startTime=nonsense x"))
    assert(err.msg.contains("error parsing startTime"))
  }

  test("time arg forms: RFC3339, plain, Go relative durations (Web.go:343-383)") {
    import java.time.Instant
    val now = Instant.parse("2021-01-20T12:00:00Z")
    def p(s: String) = QueryEngine.parseTimeArg(s, now).map(_.toInstant.toString)
    assert(p("2021-01-20T11:22:33Z") == Some("2021-01-20T11:22:33Z"))
    assert(p("2021-01-20T11:22:33+02:00") == Some("2021-01-20T09:22:33Z"))
    assert(p("2021-01-20 11:22:33") == Some("2021-01-20T11:22:33Z"))
    assert(p("2021-01-20") == Some("2021-01-20T00:00:00Z"))
    assert(p("-15m") == Some("2021-01-20T11:45:00Z"))
    assert(p("-1h30m") == Some("2021-01-20T10:30:00Z"))
    assert(p("90s") == Some("2021-01-20T12:01:30Z"))
    assert(p("-1.5h") == Some("2021-01-20T10:30:00Z"))
    assert(p("gibberish").isEmpty)
  }

  test("generator elision: '… | search X' discards prior steps (Pipeline.go:89-95)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "2021-01-20 hello userid=1"),
      ("2", "my-log.txt", "my-host", SID, T0, 50L, "2021-01-20 world userid=2")))
    val steps = e.compile("hello | rex \"(\\w+)=(\\w+)\" | search world")
    assert(steps.length == 1)
    assert(e.run("hello | rex \"x(?P<y>.)\" | search world").df
      .select("doc_id").head().getString(0) == "2")
  }

  test("type propagation: rex after table fails (Pipeline.go:97-114)") {
    val e = engine(frame(("1", "my-log.txt", "my-host", SID, T0, 0L, "x")))
    intercept[QueryError] { e.compile("| table \"a\" | rex \"(?P<x>.)\"") }
  }

  test("smoketest analog: single-match count (test/smoketest.sh:41-46)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "2021/01/20 19:37:00.000000 Starting Web GUI"),
      ("2", "my-log.txt", "my-host", SID, T0, 50L, "2021/01/20 19:37:00.000001 something else")))
    assert(e.matchedCount(e.run("Starting Web GUI")) == 1L)
  }

  test("field stats A1/A2 (internal/jobs/Engine.go:201-259)") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "2021-01-20 a=1 b=2"),
      ("2", "my-log.txt", "my-host", SID, T0, 50L, "2021-01-20 a=1 b=3")))
    val stats = e.fieldStats(e.run("")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(stats(("a", "1")) == 2L)
    assert(stats(("b", "2")) == 1L)
    assert(stats(("b", "3")) == 1L)
    val occ = e.fieldOccurrences(e.run("")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(occ("a") == 1L && occ("b") == 2L)
  }

  test("bm25 step ranks events by relevance, exposes the score field, composes") {
    val e = engine(frame(
      ("1", "my-log.txt", "my-host", SID, T0, 0L, "2021-01-20 beta beta beta alpha"),
      ("2", "my-log.txt", "my-host", SID, T0, 10L, "2021-01-20 beta alpha gamma delta"),
      ("3", "my-log.txt", "my-host", SID, T0, 20L, "2021-01-20 alpha gamma delta zeta"),
      // tf like doc 1 but twice the length: length-normalized below it
      ("4", "my-log.txt", "my-host", SID, T0, 30L,
        "2021-01-20 beta beta beta alpha x1 x2 x3 x4 x5 x6 x7 x8")))
    val ranked = e.run("alpha | bm25 k=3 \"beta\"").df
      .select(col("doc_id"), try_element_at(col("fields"), lit("bm25")).cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(ranked.map(_._1).toSeq == Seq("1", "4", "2"), s"ranking was ${ranked.toSeq}")
    assert(ranked(0)._2 > ranked(1)._2 && ranked(1)._2 > ranked(2)._2)
    // doc 3 has no query term: excluded even though k would allow it
    assert(!ranked.map(_._1).contains("3"))
    // the score is an ordinary field downstream: table can project it
    val t = e.run("alpha | bm25 k=1 \"beta\" | table \"bm25\"")
    val cell = t.df.collect().map(_.getString(0))
    assert(cell.length == 1 && cell.head.toDouble > 0)
    // unknown-terms step still compiles; empty terms must not
    intercept[QueryError] { e.run("alpha | bm25 k=3 \"\"") }
  }

  test("stats step: grouped + global aggregates, sum skips non-numeric, where composes") {
    val df = frame(
      ("1", "log-a.txt", "my-host", "log-a.txt", T0, 1L, "x a=10 team=red"),
      ("2", "log-a.txt", "my-host", "log-a.txt", T0, 2L, "x a=20 team=red"),
      ("3", "log-a.txt", "my-host", "log-a.txt", T0, 3L, "x a=ten team=blue"),
      ("4", "log-a.txt", "my-host", "log-a.txt", T0, 4L, "x team=blue"))
    val e = engine(df)
    // grouped count -> Table frame with (team, count) string cells
    val counts = e.run("x | stats fn=count by=team") match {
      case TableFrame(t, order) =>
        assert(order == Seq("team", "count"))
        t.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      case _ => fail("stats must emit a Table frame")
    }
    assert(counts == Map("red" -> "2", "blue" -> "2"))
    // sum try_casts values: "ten" and the missing field skip, never error
    val sums = e.run("x | stats fn=sum field=a by=team").df.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sums == Map("red" -> "30", "blue" -> ""))
    // global (no by) countd and min
    assert(e.run("x | stats fn=countd field=team").df.head().getString(0) == "2")
    assert(e.run("x | stats fn=min field=a").df.head().getString(0) == "10")
    // Table output composes with where (the table branch)
    val one = e.run("x | stats fn=count by=team | where team=red").df.collect()
    assert(one.length == 1 && one.head.getString(1) == "2")
    // compile errors: unknown fn, sum without field, count with field
    intercept[QueryError] { e.run("x | stats fn=median field=a") }
    intercept[QueryError] { e.run("x | stats fn=sum") }
    intercept[QueryError] { e.run("x | stats fn=count field=a") }
  }
}
