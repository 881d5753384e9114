package graft

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{HttpApi, JobsApi}
import graft.compile.QueryEngine
import graft.metrics.Recorder
import graft.sources.EventsAdapter

/** The REST surface (reference internal/web/Web.go api/v1 group +
  * ConfigWeb.go) exercised over real HTTP with the JDK client — wire
  * shapes, error codes, pagination, and the config read/replace path.
  */
class HttpApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withServer[A](configPath: Option[java.nio.file.Path] = None,
      forceStatic: Boolean = false)(body: (Int, JobsApi) => A): A = {
    val api = new JobsApi(EventsAdapter.engine(spark, dir))
    val http = new HttpApi(api, configPath, forceStatic)
    val port = http.start()
    try body(port, api) finally http.stop()
  }

  private def get(port: Int, pathQ: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathQ")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, pathQ: String, body: String = ""): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathQ"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** `rec` saw Spark jobs, and every one ran under job `id`'s group. */
  private def assertJobGroup(rec: Recorder, id: Long): Unit = {
    val groups = rec.jobs.map(j => j.properties.getProperty("spark.jobGroup.id"))
    assert(groups.nonEmpty && groups.forall(_ == s"graft-job-$id"), s"job groups: $groups")
  }

  /** The JSON rows of a page, parsed. */
  private def parsed(rows: Iterable[String]): Seq[JsonNode] = rows.map(mapper.readTree).toSeq

  test("startJob/jobStats/jobResults/jobFieldStats over HTTP (Web.go api/v1)") {
    withServer() { (port, api) =>
      val start = post(port, s"/api/v1/startJob?searchString=${enc("error")}")
      assert(start.statusCode() == 200)
      val id = start.body().trim.toLong

      val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      assert(stats.get("State").asInt() == 2) // finished (blocking stats call)
      assert(stats.get("NumMatchedEvents").asLong() == 201)
      assert(stats.get("FieldCount").get("eventtype").asLong() == 1)

      val page1 = mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=0&take=10").body())
      assert(page1.get("resultType").asInt() == 1) // PipeTypeEvents
      val events = page1.get("events")
      assert(events.size() == 10)
      val e0 = events.get(0)
      // the reference's EventWithExtractedFields keys (Event.go:46-54)
      for (k <- Seq("Id", "Raw", "Timestamp", "Host", "Source", "SourceId", "Fields"))
        assert(e0.has(k), s"missing wire key $k")
      assert(e0.get("Fields").get("eventtype").asText() == "error")
      assert(e0.get("Source").asText() == "events-error.log")

      // newest-first order and page disjointness survive the wire
      val ts1 = events.elements().asScala.map(_.get("Timestamp").asText()).toSeq
      assert(ts1.zip(ts1.tail).forall { case (a, b) => a >= b })
      val page2 = mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=10&take=10").body())
      val ids1 = events.elements().asScala.map(_.get("Id").asText()).toSet
      val ids2 = page2.get("events").elements().asScala.map(_.get("Id").asText()).toSet
      assert(ids2.size == 10 && ids1.intersect(ids2).isEmpty)

      // a finished small job answers from its one pass: no Spark job
      val (fs, fsJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobFieldStats?jobId=$id&fieldName=eventtype").body()))
      assert(fs.get("error").asLong() == 201 && fs.size() == 1)
      assert(fsJobs.jobs.isEmpty, s"finished job's field stats ran ${fsJobs.jobs.size} jobs")
      // a job no pump has run yet runs its head and its one pass for the
      // request, every Spark job under the job's group
      val fresh = api.startJob("error NOT zzhttpfields").id
      val (fs2, freshJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobFieldStats?jobId=$fresh&fieldName=eventtype").body()))
      assert(fs2 == fs)
      assertJobGroup(freshJobs, fresh)

      // take caps the driver-side collection for high-cardinality fields:
      // top-occurrence values win the cut; the full map stays the default
      val full = mapper.readTree(
        get(port, s"/api/v1/jobFieldStats?jobId=$id&fieldName=userid").body())
      assert(full.size() > 3, s"userid should be multi-valued, got ${full.size()}")
      val capped = mapper.readTree(
        get(port, s"/api/v1/jobFieldStats?jobId=$id&fieldName=userid&take=3").body())
      assert(capped.size() == 3)
      val fullCounts = full.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      val keptCounts = capped.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      val floor = keptCounts.values.min
      assert(keptCounts.forall { case (k, v) => fullCounts(k) == v },
        "capped entries must carry the full-map counts")
      assert(fullCounts.count(_._2 > floor) <= 3,
        s"the cap must keep top-occurrence values (floor $floor): $fullCounts")
    }
  }

  test("pages served from the head equal the pinned pages byte for byte over HTTP") {
    withServer() { (port, _) =>
      // the NOT fragment keeps other tests' cached results out of the plan;
      // 201 matches (more than the head holds) and 21 (fewer)
      for ((q, n) <- Seq("error NOT zzhttphead" -> 201L, "error userid=14 NOT zzhttphead" -> 21L)) {
        val id = post(port, s"/api/v1/startJob?searchString=${enc(q)}").body().trim.toLong
        val pages = Seq((0, 50), (0, 25), (25, 25), (90, 10), (0, 100))
        def fetch() = pages.map { case (skip, take) =>
          get(port, s"/api/v1/jobResults?jobId=$id&skip=$skip&take=$take").body() }
        // asked right after startJob: the pump is still on the head or the sort
        val early = fetch()
        val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
        assert(stats.get("State").asInt() == 2 && stats.get("NumMatchedEvents").asLong() == n)
        val pinned = fetch()
        pages.zip(early.zip(pinned)).foreach { case ((skip, take), (e, p)) =>
          assert(mapper.readTree(e).get("events").size() ==
            math.max(0L, math.min(take.toLong, n - skip)), s"$q ($skip, $take)")
          assert(e == p, s"$q ($skip, $take): early page != pinned page")
        }
      }
    }
  }

  test("a job whose query fails ends aborted over HTTP") {
    val broken = EventsAdapter.events(spark, dir).withColumn("raw",
      when(col("doc_id") === "7", raise_error(lit("boom"))).otherwise(col("raw")))
    val api = new JobsApi(new QueryEngine(broken, EventsAdapter.configs))
    val http = new HttpApi(api)
    val port = http.start()
    try {
      val id = post(port, s"/api/v1/startJob?searchString=${enc("error")}").body().trim.toLong
      // the first page waits on the pump's failing head, then answers 500
      assert(get(port, s"/api/v1/jobResults?jobId=$id&skip=0&take=50").statusCode() == 500)
      val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      assert(stats.get("State").asInt() == 3) // aborted
    } finally http.stop()
  }

  test("table jobs serve resultType=2 with columnOrder and tableRows") {
    withServer() { (port, api) =>
      val q = enc("error | table \"userid,eventtype\"")
      val id = post(port, s"/api/v1/startJob?searchString=$q").body().trim.toLong
      // finished first, so no pump work runs while the pages are observed
      assert(mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
        .get("State").asInt() == 2)
      val (res, firstJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=0&take=5").body()))
      assert(res.get("resultType").asInt() == 2) // PipeTypeTable
      assert(res.get("columnOrder").elements().asScala.map(_.asText()).toSeq
        == Seq("userid", "eventtype"))
      assert(res.get("events").size() == 0)
      val rows = res.get("tableRows")
      assert(rows.size() == 5)
      assert(rows.get(0).get("eventtype").asText() == "error")
      // the stats' one pass gathered every page: the first page is a slice
      assert(firstJobs.jobs.isEmpty, s"a finished table's first page ran ${firstJobs.jobs.size} jobs")
      // a table job no pump has run yet builds its pages for the request,
      // every Spark job under the job's group
      val fresh = api.startJob("error NOT zzhttptable | table \"userid,eventtype\"").id
      val (freshRes, freshJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$fresh&skip=0&take=5").body()))
      assert(freshRes.get("tableRows").size() == 5)
      assertJobGroup(freshJobs, fresh)
      // the second page is a slice of the rendered result: no Spark job
      val (res2, secondJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=5&take=5").body()))
      assert(secondJobs.jobs.isEmpty, s"a table's second page ran ${secondJobs.jobs.size} jobs")
      // every page equals the per-page render of the same rows
      for ((page, skip) <- Seq(res -> 0, res2 -> 5))
        assert(page.get("tableRows").elements().asScala.toSeq ==
          parsed(api.jobResults(id, skip, 5).toJSON.collect()), s"page at $skip")
    }
  }

  test("a | stats job serves its aggregate as a table over HTTP") {
    withServer() { (port, api) =>
      // started without a pump, so the page request runs the job's work
      val id = api.startJob("error | stats fn=count by=userid").id
      val (res, pageJobs) = TestSpark.observe(mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=0&take=200").body()))
      assert(res.get("resultType").asInt() == 2)
      assert(res.get("columnOrder").elements().asScala.map(_.asText()).toSeq
        == Seq("userid", "count"))
      val rows = res.get("tableRows").elements().asScala.toSeq
      assert(rows.nonEmpty)
      assertJobGroup(pageJobs, id)
      assert(rows == parsed(api.jobResults(id, 0, 200).toJSON.collect()))
      // the served counts reconcile with the total error-event count
      val total = rows.map(_.get("count").asText().toLong).sum
      val all = post(port, s"/api/v1/startJob?searchString=${enc("error")}")
        .body().trim.toLong
      val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$all").body())
      assert(total == stats.get("NumMatchedEvents").asLong())
    }
  }

  test("relativeTime narrows the job's window (parseTimeParametersGin)") {
    withServer() { (port, _) =>
      // corpus timestamps are in 2024 — a now-anchored window matches none
      val id = post(port,
        s"/api/v1/startJob?searchString=${enc("error")}&relativeTime=${enc("-1h")}")
        .body().trim.toLong
      val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      assert(stats.get("NumMatchedEvents").asLong() == 0)
    }
  }

  test("abort over HTTP moves the job to the aborted state code") {
    withServer() { (port, _) =>
      val id = post(port, s"/api/v1/startJob?searchString=${enc("error")}")
        .body().trim.toLong
      assert(post(port, s"/api/v1/abortJob?jobId=$id").statusCode() == 200)
      val stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      assert(stats.get("State").asInt() == 3) // aborted
      assert(post(port, "/api/v1/abortJob?jobId=99999").statusCode() == 404)
    }
  }

  test("a small response is sent at once, not held for the client's delayed ACK") {
    withServer() { (port, _) =>
      // with Nagle's algorithm on, each body waits ~40 ms on loopback for
      // the ACK of the header segment; the schema endpoint runs no Spark job
      val ms = (0 until 21).map { _ =>
        val t0 = System.nanoTime()
        val r = get(port, "/api/v1/config/schema")
        assert(r.statusCode() == 200 && r.body().nonEmpty)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median ${ms(10)} ms over 21 GETs: $ms")
    }
  }

  test("HTTP error mapping: 400 bad params, 404 unknown, 405 wrong method") {
    withServer() { (port, _) =>
      assert(get(port, "/api/v1/jobStats?jobId=99999").statusCode() == 404)
      assert(get(port, "/api/v1/jobStats?jobId=abc").statusCode() == 400)
      assert(get(port, "/api/v1/jobStats").statusCode() == 400)
      assert(get(port, "/api/v1/jobResults?jobId=1&skip=x&take=1").statusCode() == 400)
      assert(post(port,
        s"/api/v1/startJob?searchString=x&relativeTime=bogus").statusCode() == 400)
      assert(get(port, "/api/v1/startJob?searchString=x").statusCode() == 405)
      assert(get(port, "/api/v1/nope").statusCode() == 404)
      assert(get(port, "/api/v1/config").statusCode() == 404) // no file attached
    }
  }

  test("config GET/POST round-trip with atomic replace (ConfigWeb.go)") {
    val cfg = Files.createTempFile("graft-http-cfg", ".json")
    val v1 = """{"files":[{"fileName":"events-*.log"}]}"""
    Files.write(cfg, v1.getBytes(UTF_8))
    try {
      withServer(configPath = Some(cfg)) { (port, _) =>
        assert(get(port, "/api/v1/config").body() == v1)
        val v2 = """{"files":[{"fileName":"other-*.log"}]}"""
        assert(post(port, "/api/v1/config", v2).statusCode() == 200)
        assert(new String(Files.readAllBytes(cfg), UTF_8) == v2)
        // invalid body: 400 and the file is untouched
        assert(post(port, "/api/v1/config", "{not json").statusCode() == 400)
        assert(new String(Files.readAllBytes(cfg), UTF_8) == v2)
      }
      withServer(configPath = Some(cfg), forceStatic = true) { (port, _) =>
        assert(post(port, "/api/v1/config", v1).statusCode() == 400)
      }
    } finally { Files.deleteIfExists(cfg): Unit }
  }

  test("config schema endpoint describes exactly the honored subset (ConfigWeb.go:28-30)") {
    withServer() { (port, _) =>
      val resp = get(port, "/api/v1/config/schema")
      assert(resp.statusCode() == 200)
      val schema = mapper.readTree(resp.body()) // parses = valid JSON
      val props = schema.get("properties")
      for (k <- Seq("host", "files", "fileTypes")) assert(props.has(k), s"schema key $k")
      // the schema's defaults must match the parser's actual defaults
      assert(props.get("fileTypes").get("items").get("properties")
        .get("timeLayout").get("default").asText()
        == graft.config.ConfigJson.DEFAULT_TIME_LAYOUT)
      assert(post(port, "/api/v1/config/schema").statusCode() == 405)
    }
  }

  test("web GUI pages serve at /, /search and /config (Web.go:138-160)") {
    withServer() { (port, _) =>
      for (path <- Seq("/", "/search")) {
        val resp = get(port, path)
        assert(resp.statusCode() == 200)
        assert(resp.headers().firstValue("Content-Type").get().startsWith("text/html"))
        // the search UI's working parts: input, time window, start/abort,
        // results table — all driving the api/v1 endpoints
        for (marker <- Seq("search-input", "time-select", "/api/v1/startJob",
            "/api/v1/jobStats", "/api/v1/jobResults", "/api/v1/jobFieldStats",
            "/api/v1/abortJob"))
          assert(resp.body().contains(marker), s"$path missing $marker")
      }
      val cfg = get(port, "/config")
      assert(cfg.statusCode() == 200)
      for (marker <- Seq("config-text", "/api/v1/config/schema", "/api/v1/enums/"))
        assert(cfg.body().contains(marker), s"/config missing $marker")
      assert(get(port, "/nope").statusCode() == 404)
      assert(post(port, "/search").statusCode() == 405)
    }
  }

  test("enum providers serve the config's map keys (EnumProvider.go)") {
    val cfg = Files.createTempFile("graft-enums", ".json")
    Files.write(cfg,
      """{"host":{"name":"h1","type":"edge"},
        |"fileTypes":[{"name":"access"},{"name":"kvpairs"}],
        |"files":[{"fileName":"events-*.log"},{"fileName":"other.log"}]}"""
        .stripMargin.getBytes(UTF_8))
    try withServer(configPath = Some(cfg)) { (port, _) =>
      def values(name: String): Seq[String] =
        mapper.readTree(get(port, s"/api/v1/enums/$name").body())
          .elements().asScala.map(_.asText()).toSeq
      // DEFAULT is implicit in both maps, exactly like ConfigJson.parse
      assert(values("fileTypes") == Seq("DEFAULT", "access", "kvpairs"))
      assert(values("files") == Seq("events-*.log", "other.log"))
      assert(values("hostTypes") == Seq("DEFAULT", "edge"))
      assert(get(port, "/api/v1/enums/bogus").statusCode() == 404)
      assert(post(port, "/api/v1/enums/fileTypes").statusCode() == 405)
    } finally { Files.deleteIfExists(cfg): Unit }
  }

  test("enum providers without an attached config answer 404") {
    withServer() { (port, _) =>
      assert(get(port, "/api/v1/enums/fileTypes").statusCode() == 404)
    }
  }

  test("jobResultsAfter pages by keyset over HTTP (O2 extension)") {
    withServer() { (port, api) =>
      val id = post(port,
        s"/api/v1/startJob?searchString=${enc("eventtype IN (purchase, view)")}")
        .body().trim.toLong
      // anchor = position-9 row read through the store (full ts precision)
      val anchor = api.jobResults(id, 9, 1).select("ts", "doc_id").head()
      val ts = java.time.OffsetDateTime.of(
        anchor.getAs[java.time.LocalDateTime](0), java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)
      val docId = anchor.getString(1)
      val (next, keysetJobs) = TestSpark.observe(mapper.readTree(get(port,
        s"/api/v1/jobResultsAfter?jobId=$id&lastTs=${enc(ts)}&lastDocId=${enc(docId)}&take=5")
        .body()))
      assert(next.get("resultType").asInt() == 1)
      assertJobGroup(keysetJobs, id)
      val viaKeyset = next.get("events").elements().asScala
        .map(_.get("Id").asText()).toSeq
      val viaSkip = mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=10&take=5").body())
        .get("events").elements().asScala.map(_.get("Id").asText()).toSeq
      assert(viaKeyset == viaSkip, "keyset page must equal the offset page")

      // a preserveArgOrder job has no total (ts, doc_id) key -> 400
      val id2 = post(port,
        s"/api/v1/startJob?searchString=${enc("| surrounding count=6 eventId=50")}")
        .body().trim.toLong
      assert(get(port,
        s"/api/v1/jobResultsAfter?jobId=$id2&lastTs=${enc(ts)}&lastDocId=x&take=5")
        .statusCode() == 400)
      // missing anchor param -> 400; unknown id -> 404
      assert(get(port, s"/api/v1/jobResultsAfter?jobId=$id&take=5").statusCode() == 400)
      assert(get(port,
        s"/api/v1/jobResultsAfter?jobId=99999&lastTs=${enc(ts)}&lastDocId=x&take=5")
        .statusCode() == 404)
    }
  }

  test("GUI smoke: the search page's exact call sequence against the live API (WebGui wire pins)") {
    // the scripted twin of WebGui.searchPage's runSearch()/loadPage()/
    // renderFields(): POST startJob -> poll jobStats until State != 1 ->
    // GET jobResults skip=0 take=25 -> field sidebar from stats.FieldCount
    // -> click a field = GET jobFieldStats -> pager next = skip += 25.
    // Pins every wire assumption the hand-written GUI makes.
    withServer() { (port, _) =>
      val pages = get(port, "/search")
      assert(pages.statusCode() == 200 &&
        pages.body().contains("/api/v1/startJob?searchString="))
      val id = post(port, s"/api/v1/startJob?searchString=${enc("error")}").body().trim.toLong
      var stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      val deadline = System.nanoTime() + 30000000000L
      while (stats.get("State").asInt() == 1 && System.nanoTime() < deadline) {
        Thread.sleep(300)
        stats = mapper.readTree(get(port, s"/api/v1/jobStats?jobId=$id").body())
      }
      assert(stats.get("State").asInt() == 2, s"job must finish: $stats")
      assert(stats.get("NumMatchedEvents").asLong() == 201)
      // page 1 exactly as loadPage() asks, and the keys it renders
      val page = mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=0&take=25").body())
      assert(page.get("resultType").asInt() == 1)
      val evs = page.get("events").elements().asScala.toSeq
      assert(evs.size == 25)
      for (k <- Seq("Id", "Raw", "Timestamp", "Host", "Source", "Fields"))
        assert(evs.head.has(k), s"GUI renders events.$k")
      // the field sidebar: every FieldCount key answers jobFieldStats
      val fieldNames = stats.get("FieldCount").fieldNames().asScala.toSeq
      assert(fieldNames.nonEmpty)
      for (name <- fieldNames.take(3)) {
        val counts = mapper.readTree(get(port,
          s"/api/v1/jobFieldStats?jobId=$id&fieldName=${enc(name)}").body())
        assert(counts.size() > 0, s"field $name must have values")
      }
      // pager: next page at skip=25 is dup-free against page 1
      val ids1 = evs.map(_.get("Id").asText()).toSet
      val page2 = mapper.readTree(
        get(port, s"/api/v1/jobResults?jobId=$id&skip=25&take=25").body())
      val ids2 = page2.get("events").elements().asScala.map(_.get("Id").asText()).toSet
      assert(ids2.nonEmpty && ids1.intersect(ids2).isEmpty)
      // abort button path: POST abortJob on the finished job is a 200 no-op
      assert(post(port, s"/api/v1/abortJob?jobId=$id").statusCode() == 200)
    }
  }
}
