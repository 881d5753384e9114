package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.{HttpApi, JobsApi}
import graft.compile.QueryEngine
import graft.data.SequenceGen
import graft.lang.Lang
import graft.plans.LogPipeline

/** `search_jobs`: one analyst in a closed loop against the routed store,
  * served the way `graft.Main --serve` serves it (`JobsApi` with a job TTL
  * behind `HttpApi` on loopback, no index). Each job: startJob -> first page
  * (skip 0, take 50) -> poll jobStats until finished -> a page at half of
  * NumMatchedEvents. Counts and page contents are checked against the
  * generator's sidecar.
  */
object SearchJobs {
  val Rows = 6000
  /** Events of the traced route prefixes and scaling passes: large enough
    * that each stage's difference stands well above the fixed cost of a
    * Spark job, which dominates a pass over `Rows`.
    */
  val PrefixRows = 200000
  val PageSize = 50

  /** A query with its expected outcome: for event jobs the matching events
    * newest first; for table jobs the expected rows (order-free).
    */
  final case class Query(template: String, text: String, events: Option[Vector[Ev]],
      table: Option[(Int, Set[Seq[String]])])

  private def rfc(micros: Long): String = Instant.ofEpochSecond(micros / 1000000L).toString

  private def groups(rows: Iterable[Seq[String]]) = (rows.size, rows.toSet)

  /** The twelve templates with seeded parameters. */
  def query(kind: Int, evs: Vector[Ev], r: scala.util.Random): Query = {
    val desc = evs.reverse // generated in ascending id (and event-time) order
    def ev(t: String, q: String)(p: Ev => Boolean) = Query(t, q, Some(desc.filter(p)), None)
    kind match {
      case 0 => ev("fragment", "reticulated")(_.kind == 0)
      case 1 =>
        val u = r.nextInt(100); ev("field", s"userid=$u")(e => e.kind <= 1 && e.user == u)
      case 2 =>
        val ss = r.shuffle(Seq(301, 404, 400, 500)).take(2)
        ev("in", s"status IN (${ss.mkString(", ")})")(e => e.kind == 2 && ss.contains(e.status))
      case 3 =>
        val d = r.nextInt(10)
        // user<d>* matches user<d> and the two-digit users user<d>0..user<d>9
        ev("wildcard", s"username=user$d*")(e => e.kind == 1 && (e.user == d || (e.user >= 10 && e.user / 10 == d)))
      case 4 =>
        val src = Seq("access-0.log", "access-1.log")(r.nextInt(2))
        ev("not", s"source=$src NOT get")(e => e.source == src && e.method != "GET")
      case 5 =>
        val lo = evs.head.tsMicros; val span = evs.last.tsMicros - lo
        val a = lo + (span * r.nextDouble() * 0.5).toLong; val b = a + span / 4
        val (s, t) = (a / 1000000L * 1000000L, b / 1000000L * 1000000L)
        ev("time_search", s"""| search startTime="${rfc(s)}" endTime="${rfc(t)}" post""")(e =>
          e.kind == 2 && e.method == "POST" && e.tsMicros >= s && e.tsMicros <= t)
      case 6 =>
        ev("rex", """source=json-0.log | rex "level.:.(?P<lvl>[a-z]+)" | where lvl=warn""")(e =>
          e.kind == 3 && e.level == "warn")
      case 7 =>
        val u = r.nextInt(100); ev("where", s"reticulated | where userid=$u")(e => e.kind == 0 && e.user == u)
      case 8 =>
        val m = Seq("delete", "put")(r.nextInt(2))
        val rows = evs.filter(e => e.kind == 2 && e.method == m.toUpperCase)
        Query("table", s"""method=$m | table "method,status"""", None,
          Some((rows.length, rows.map(e => Seq(m, e.status.toString)).toSet)))
      case 9 =>
        val src = Seq("access*", "access-0.log", "access-1.log")(r.nextInt(3))
        val rows = evs.filter(e => e.kind == 2 && (src == "access*" || e.source == src))
        Query("stats_count", s"source=$src | stats fn=count by=status", None,
          Some(groups(rows.groupBy(_.status).map { case (s, es) => Seq(s.toString, es.length.toString) })))
      case 10 =>
        val rows = evs.filter(_.kind == 0)
        Query("stats_countd", "reticulated | stats fn=countd field=userid by=source", None,
          Some(groups(rows.groupBy(_.source).map { case (s, es) => Seq(s, es.map(_.user).distinct.length.toString) })))
      case _ =>
        val base = evs(evs.length / 4 + r.nextInt(evs.length / 2))
        val same = evs.filter(_.source == base.source)
        val up = same.filter(_.id <= base.id).sortBy(-_.id).take(10)
        val down = same.filter(_.id > base.id).sortBy(_.id).take(10)
        Query("surrounding", s"| surrounding count=20 eventId=${base.docId}",
          Some((up ++ down).sortBy(-_.id)), None)
    }
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
    private val mapper = new ObjectMapper()
    private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    private def call(method: String, path: String, params: (String, String)*): JsonNode = {
      val q = params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/$path?$q"))
        .timeout(Duration.ofSeconds(120))
      val req = (if (method == "POST") b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) throw new IllegalStateException(s"$path -> ${resp.statusCode()}: ${resp.body().take(200)}")
      mapper.readTree(resp.body())
    }
    def startJob(q: String): Long = call("POST", "startJob", "searchString" -> q).asLong()
    def results(id: Long, skip: Long, take: Int): JsonNode =
      call("GET", "jobResults", "jobId" -> id.toString, "skip" -> skip.toString, "take" -> take.toString)
    def stats(id: Long): JsonNode = call("GET", "jobStats", "jobId" -> id.toString)
  }

  final class Server(val in: String, val store: String, val summary: Route.Summary, val routeMs: Double,
      val http: HttpApi, val port: Int, val engine: QueryEngine)

  /** `Main --out <store> --serve 0`: route the staged input (printing the
    * per-sink summary), then serve the routed sinks.
    */
  def serve(ctx: Ctx, k: Int, evs: Vector[Ev]): Server = {
    val spark = ctx.spark
    val in = Route.stage(ctx, s"in-$k", evs)
    val store = ctx.dir(s"store-$k")
    val (summary, routeMs) = ctx.timeMs(Route.pass(ctx, in, store, s"setup-$k"))
    val engine = new QueryEngine(LogPipeline.openSinks(spark, store), SequenceGen.configs)
    val http = new HttpApi(new JobsApi(engine, jobTtlMillis = Some(60000L)))
    new Server(in, store, summary, routeMs, http, http.start(0), engine)
  }

  private def ids(page: JsonNode): Vector[String] =
    page.get("events").elements().asScala.map(_.get("Id").asText()).toVector

  private def tableRows(page: JsonNode): Vector[Seq[String]] = {
    val order = page.get("columnOrder").elements().asScala.map(_.asText()).toVector
    page.get("tableRows").elements().asScala.map(r => order.map(c => r.get(c).asText())).toVector
  }

  /** ms from startJob sent until the first page arrived, and until jobStats reported finished. */
  final case class JobTimes(firstPage: Double, done: Double)

  /** One job over HTTP; checks its count and pages against the sidecar. */
  def job(ctx: Ctx, c: Client, q: Query, req: String): JobTimes = {
    val tr = ctx.tr
    val t0 = System.nanoTime()
    def since = (System.nanoTime() - t0) / 1e6
    val id = tr.span("JobsApi.start", req)(c.startJob(q.text))
    val first = tr.span("JobsApi.first_page", req)(c.results(id, 0, PageSize))
    val tFirst = since
    var st = tr.span("JobsApi.stats", req)(c.stats(id))
    while (st.get("State").asInt() == 1) { Thread.sleep(2); st = tr.span("JobsApi.stats", req)(c.stats(id)) }
    val tDone = since
    val n = st.get("NumMatchedEvents").asLong()
    val deep = tr.span("JobsApi.deep_page", req)(c.results(id, n / 2, PageSize))
    val name = s"search ${q.template} [${q.text}]"
    ctx.out.check(name + " state", st.get("State").asInt() == 2, s"state ${st.get("State")}")
    q.events match {
      case Some(want) =>
        ctx.out.check(name + " NumMatchedEvents", n == want.length, s"$n != ${want.length}")
        val wantFirst = want.take(PageSize).map(_.docId)
        ctx.out.check(name + " first page", ids(first) == wantFirst, s"${ids(first).take(3)} != ${wantFirst.take(3)}")
        val wantDeep = want.slice((n / 2).toInt, (n / 2).toInt + PageSize).map(_.docId)
        ctx.out.check(name + " deep page", ids(deep) == wantDeep, s"${ids(deep).take(3)} != ${wantDeep.take(3)}")
      case None =>
        val (count, want) = q.table.get
        ctx.out.check(name + " NumMatchedEvents", n == count, s"$n != $count")
        val got = tableRows(first)
        ctx.out.check(name + " first page", got.length == math.min(PageSize, count) &&
          got.forall(want.contains), s"${got.take(3)} not in expected")
    }
    JobTimes(tFirst, tDone)
  }

  def run(ctx: Ctx): Unit = {
    val conf = ctx.conf
    val evs = Gen.events(Gen.firstId(conf.seed), Rows)
    var server: Server = null
    val servers = scala.collection.mutable.ArrayBuffer.empty[Server]
    val setups = ctx.phase("setup", 100) {
      (0 until 3).map { k =>
        if (server != null) server.http.stop()
        val (s, ms) = ctx.timeMs(serve(ctx, k, evs))
        server = s; servers += s; ms
      }
    }.getOrElse(Vector.empty)
    if (server == null) return
    ctx.out.e2e("setup_s") = (Stats.median(setups) / 1000.0, "s")
    // the route step of every set-up, checked against the input once they are done
    val want = ctx.phase("route check", 30)(Route.expected(ctx.spark, server.in)).getOrElse(return)
    servers.zipWithIndex.foreach { case (s, k) => Route.check(ctx, s"route pass of set-up $k", s.summary, want) }
    val routeThr = Rows / (Stats.median(servers.map(_.routeMs).toSeq) / 1000.0)
    ctx.out.note("ingest_seqs_per_s", routeThr, "1/s", s""","cores":${conf.cores},"rows":$Rows""")
    ctx.out.note("routed_bytes_per_seq", Route.routedBytes(server.store) / Rows, "bytes")
    val client = new Client(server.port)
    // rounds of the twelve templates, each round in a seeded order, each
    // query with seeded parameters; the timed loop runs whole rounds
    def queries(seed: Long) = {
      val r = new scala.util.Random(seed)
      Iterator.continually(r.shuffle((0 until 12).toVector)).flatten.map(query(_, evs, r))
    }
    val warm = queries(conf.seed + 1)
    val timed = queries(conf.seed)
    try {
      ctx.phase("warm-up", 60) { (0 until 4).foreach(i => job(ctx, client, warm.next(), s"warm-$i")) }
      if (!conf.trace) {
        val done = scala.collection.mutable.ArrayBuffer.empty[JobTimes]
        val (ok, wall) = ctx.timeMs(ctx.phase("measure", conf.seconds + 60) {
          ctx.loop(conf.seconds, minOps = 12, roundTo = 12)(i => { val t = job(ctx, client, timed.next(), s"job-$i"); done += t; t.firstPage })
        })
        val js = done.toVector
        if (ok.isEmpty || js.isEmpty) return
        val first = js.map(_.firstPage)
        ctx.out.e2e("latency_p50_ms") = (Stats.median(first), "ms")
        ctx.out.note("search_first_page_p50_ms", Stats.median(first), "ms")
        ctx.out.noteTail("search_first_page_tail_ms", first, "ms")
        ctx.out.note("search_job_p50_ms", Stats.median(js.map(_.done)), "ms")
        val perS = js.length / (wall / 1000.0)
        ctx.out.e2e("throughput_per_s") = (perS, "1/s")
        ctx.out.note("search_jobs_per_min", perS * 60.0, "1/min")
      } else {
        traced(ctx, client, server, timed)
        server.http.stop()
        val third = conf.seconds / 3
        val big = ctx.phase("route input", 60) {
          val in = ctx.dir("in-prefix")
          Gen.sequencesOfRange(ctx.spark, Gen.firstId(conf.seed), PrefixRows, conf.cores * 2)
            .write.mode("overwrite").parquet(in)
          (in, Route.expected(ctx.spark, in))
        }
        big.foreach { case (in, bigWant) =>
          ctx.phase("route prefixes", third + 90)(Route.prefixes(ctx, in, PrefixRows, third))
          ctx.phase("route scaling", 150)(Route.scaling(ctx, in, bigWant, PrefixRows))
        }
      }
    } finally server.http.stop()
  }

  def traced(ctx: Ctx, client: Client, server: Server, queries: Iterator[Query]): Unit = {
    var matched = 0L
    val drawn = scala.collection.mutable.HashMap.empty[Int, Query]
    val (u, t) = ctx.phase("traced", ctx.conf.seconds + 60) {
      Traced.alternate(ctx, "search.job", ctx.conf.seconds * 2 / 3, minPairs = 6) { (i, traced) =>
        // both runs of a pair take the same query, after an untimed, untraced
        // run of it: a query's first run pays for compiling its generated code
        val q = drawn.getOrElseUpdate(i, {
          val q = queries.next()
          val on = ctx.tr.enabled
          ctx.tr.enabled = false
          try job(ctx, client, q, s"job-$i-warm") finally ctx.tr.enabled = on
          matched += q.events.map(_.length.toLong).getOrElse(q.table.get._1.toLong)
          q
        })
        val req = s"job-$i-$traced"
        // the language and compile layers, called directly with the job's query
        ctx.tr.span("Lang.parsePipeline", req)(Lang.parsePipeline(q.text))
        ctx.tr.span("QueryEngine.compile", req)(server.engine.compile(q.text))
        matched += q.events.map(_.length.toLong).getOrElse(q.table.get._1.toLong)
        ctx.timeMs(ctx.tr.span("search.job", req)(job(ctx, client, q, req)))._2
      }
    }.getOrElse((Vector.empty, Vector.empty))
    Traced.sparkCounters(ctx, u.length + t.length + drawn.size)
    val read = ctx.counters.total(_.startsWith("graft-job-"))("spark.records_read")
    ctx.out.layers("spark.rows_scanned_per_match") = (read / math.max(1L, matched), "ratio")
    ctx.out.layers("Lang.parse_us") = (Traced.perReqMs(ctx, "Lang.parsePipeline") * 1000.0, "us")
    Seq("QueryEngine.compile" -> "QueryEngine.compile_ms", "JobsApi.start" -> "JobsApi.start_ms",
      "JobsApi.first_page" -> "JobsApi.first_page_ms", "JobsApi.stats" -> "JobsApi.stats_ms",
      "JobsApi.deep_page" -> "JobsApi.deep_page_ms").foreach { case (s, k) =>
      ctx.out.layers(k) = (Traced.perReqMs(ctx, s), "ms")
    }
  }
}
