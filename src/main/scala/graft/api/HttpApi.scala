package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.time.OffsetDateTime
import java.time.format.DateTimeParseException
import java.util.concurrent.Executors

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.compile.{EventsFrame, TableFrame}

/** The reference's HTTP/REST surface (internal/web/Web.go:163-276 — the
  * `api/v1` group: startJob / abortJob / jobStats / jobResults /
  * jobFieldStats, plus internal/web/ConfigWeb.go:25-85's config
  * endpoints) rebuilt over [[JobsApi]] with the JDK's built-in
  * `com.sun.net.httpserver` — zero added dependencies, loopback-bound by
  * default. The web GUI ships too ([[WebGui]]: `/`, `/search`, `/config`
  * plus the `GET /api/v1/enums/{name}` helper the reference's config page
  * uses, internal/web/EnumProvider.go) — hand-written static pages that
  * are pure clients of this machine face, which speaks the reference's
  * wire shapes so an existing API client can point here:
  *
  *   - `POST /api/v1/startJob?searchString=&relativeTime=|startTime=&endTime=`
  *     -> the job id as a bare JSON number (Web.go:163-176). relativeTime
  *     is a Go duration (usually negative); absolute bounds are RFC3339.
  *   - `POST /api/v1/abortJob?jobId=` -> 200 (Web.go:178-191)
  *   - `GET /api/v1/jobStats?jobId=` -> `{State, FieldCount,
  *     NumMatchedEvents}` with the reference's numeric state enum
  *     (pkg/logsuck/jobs/Job.go:26-30: 1 running, 2 finished, 3 aborted)
  *   - `GET /api/v1/jobResults?jobId=&skip=&take=` -> `{resultType,
  *     columnOrder, events, tableRows}` (Web.go:220-257); resultType uses
  *     the pipe-type enum (1 events, 2 table); events carry the
  *     EventWithExtractedFields keys (pkg/logsuck/events/Event.go:46-54).
  *     `Id` is the engine's string doc_id, not a storage rowid — the one
  *     documented wire divergence (a distributed engine has no autoint).
  *   - `GET /api/v1/jobResultsAfter?jobId=&lastTs=&lastDocId=&take=` ->
  *     same events shape; keyset pagination strictly after the RFC3339
  *     (lastTs, lastDocId) anchor (extension — no reference analog; its
  *     scan-side keyset is SqliteEventRepository.go:37,353)
  *   - `GET /api/v1/jobFieldStats?jobId=&fieldName=` -> `{value: count}`
  *     (jobs/Repository.go:32 GetFieldValues)
  *   - `GET|POST /api/v1/config` -> read / atomically replace the
  *     logsuck.json config file (ConfigWeb.go:45-85); a POST is validated
  *     by [[graft.config.ConfigJson]] before the swap, and the swap is a
  *     same-directory ATOMIC_MOVE so the streaming hot-reload path never
  *     reads a torn file. With `forceStaticConfig` the POST is refused
  *     (ConfigWeb.go:65-68).
  *
  * Unknown job ids map to 404 (the reference's lookup error), malformed
  * parameters to 400, everything else to 500 — never a handler crash.
  *
  * This class parses parameters and serialises; it runs no Spark action.
  * Every page and field-stats response comes from [[JobsApi]], which runs
  * each Spark job of a request under the job's group (so abort cancels
  * it and its progress counts it): a page is a slice of the job's one
  * rendered result, events or table, rendered to JSON once, and the
  * handler only stitches page-sized strings. The job itself is "pumped"
  * in the background on start (the reference's job engine pump,
  * internal/jobs/Engine.go:84-174; [[JobsApi.pump]]): a newest-first
  * events job first renders its head, the first rows in one top-k job, so
  * its first page is served at once; then one narrow pass gathers a small
  * job's every page, count and field stats on the driver. A large job
  * instead builds its page index and its stats as two overlapping pump
  * tasks while a client pages and polls. Abort cancels the running
  * stages; a failed query is logged once and ends aborted.
  *
  * The server sets `sun.net.httpserver.nodelay` before its first `create`:
  * without it the JDK server flushes the headers as one TCP segment and
  * Nagle's algorithm holds the small body until the client's delayed ACK,
  * ~40 ms on loopback for every response.
  */
final class HttpApi(api: JobsApi,
    configPath: Option[Path] = None,
    forceStaticConfig: Boolean = false) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = null
  // request handling and job pumps on separate pools: a slow first action
  // (the pump) must not starve page requests for already-finished jobs.
  // The pump pool is BOUNDED (the reference's job engine pumps through a
  // bounded worker set too, internal/jobs/Engine.go): an unbounded cached
  // pool let a burst of startJob requests submit unbounded concurrent
  // first-action materializations, all competing for the cluster. Excess
  // pumps queue; their jobs still answer polls (state=running, progress 0)
  // and their first page/stats request computes inline if it arrives
  // before the pump gets a slot (each of a job's values is computed once
  // either way).
  private val httpPool = Executors.newFixedThreadPool(8)
  private val pumpPool = Executors.newFixedThreadPool(4)
  // periodic job-TTL sweep for long-lived --serve processes: finished and
  // aborted jobs age out of the JobsApi map and their result caches are
  // unpersisted (JobsApi.expireJobs — a cheap no-op when the api was built
  // without a TTL). Daemon thread: the sweeper must never hold the JVM open.
  private val ttlSweeper = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-job-ttl"); t.setDaemon(true); t
  })

  /** Bind and serve; `port` 0 picks an ephemeral port. Returns the bound
    * port. Loopback-only by design — fronting proxies own external
    * exposure (the reference binds `web.address` the same local way).
    */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    // stop() shuts the pools down for good — a restarted instance would
    // bind its socket but reject every dispatched request
    require(!httpPool.isShutdown, "HttpApi cannot restart; create a new instance")
    // read once, when the JDK's server config first loads
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/v1", (ex: HttpExchange) => handle(ex))
    // longest-prefix routing: the root context only sees non-api paths
    server.createContext("/", (ex: HttpExchange) => handleGui(ex))
    server.setExecutor(httpPool)
    server.start()
    ttlSweeper.scheduleWithFixedDelay(
      () => try api.expireJobs(): Unit catch { case _: Throwable => () },
      60, 60, java.util.concurrent.TimeUnit.SECONDS): Unit
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    ttlSweeper.shutdownNow(): Unit
    pumpPool.shutdownNow(): Unit
    httpPool.shutdown()
  }

  // -------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      (method, path) match {
        case ("POST", "/api/v1/startJob") => startJob(ex)
        case ("POST", "/api/v1/abortJob") => abortJob(ex)
        case ("GET", "/api/v1/jobStats") => jobStats(ex)
        case ("GET", "/api/v1/jobResults") => jobResults(ex)
        // non-reference extension (O2): keyset page strictly after the
        // (lastTs, lastDocId) anchor — O(page) where skip/take pagination
        // would scan the prefix; same events wire shape as jobResults
        case ("GET", "/api/v1/jobResultsAfter") => jobResultsAfter(ex)
        case ("GET", "/api/v1/jobFieldStats") => jobFieldStats(ex)
        case ("GET", "/api/v1/config") => configGet(ex)
        case ("POST", "/api/v1/config") => configPost(ex)
        // the reference serves its embedded schema (ConfigWeb.go:28-30);
        // here it is authored against exactly the subset ConfigJson honors
        case ("GET", "/api/v1/config/schema") =>
          sendJson(ex, 200, graft.config.ConfigJson.SCHEMA_JSON)
        // the GUI's enum providers (internal/web/EnumProvider.go via
        // ConfigWeb.go:31-44) — values of the attached config's maps
        case ("GET", p) if p.startsWith("/api/v1/enums/") =>
          enums(ex, p.stripPrefix("/api/v1/enums/"))
        case (_, p) if routes(p) || p.startsWith("/api/v1/enums/") =>
          sendText(ex, 405, "method not allowed")
        case _ => sendText(ex, 404, "not found")
      }
    } catch {
      case e: JobsApi.NoSuchJobException => sendText(ex, 404, e.getMessage)
      case e @ (_: IllegalArgumentException | _: DateTimeParseException |
                _: com.fasterxml.jackson.core.JsonProcessingException) =>
        sendText(ex, 400, Option(e.getMessage).getOrElse("bad request"))
      case e: Throwable =>
        sendText(ex, 500, Option(e.getMessage).getOrElse(e.getClass.getName))
    } finally ex.close()
  }

  private val routes = Set("/api/v1/startJob", "/api/v1/abortJob",
    "/api/v1/jobStats", "/api/v1/jobResults", "/api/v1/jobResultsAfter",
    "/api/v1/jobFieldStats", "/api/v1/config", "/api/v1/config/schema")

  // ------------------------------------------------------------- handlers

  private def startJob(ex: HttpExchange): Unit = {
    val q = params(ex)
    val search = q.getOrElse("searchString", "")
    // mirrors parseTimeParametersGin (Web.go:335-383): relativeTime wins,
    // else optional absolute RFC3339 bounds
    val job = q.get("relativeTime") match {
      case Some(rt) => api.startJob(search, relativeTime = Some(rt))
      case None =>
        api.startJob(search,
          startTime = q.get("startTime").map(rfc3339),
          endTime = q.get("endTime").map(rfc3339))
    }
    // the pump (Engine.go:84-174, JobsApi.pump): the job's head, then one
    // pass for its pages and stats (a large job: its page index and its
    // stats as two overlapping pump tasks), so clients can page and poll
    // jobStats / estimatedProgress meanwhile. An abort cancels these
    // stages and the cancellation dies here, not in a request thread; any
    // other failure is logged once, by the chain that hit it (the job is
    // aborted by then).
    def pumped(chain: => Unit): Runnable = () =>
      try chain catch { case e: Throwable =>
        if (!JobsApi.isCancellation(e)) System.err.println(
          s"[graft] job ${job.id} failed (query: ${job.query}): ${HttpApi.oneLine(e)}")
      }
    // a stopped server rejects the forked chain; the stats chain then
    // builds a large job's page index itself
    def fork(chain: () => Unit): Unit =
      try pumpPool.submit(pumped(chain())): Unit
      catch { case _: java.util.concurrent.RejectedExecutionException => () }
    pumpPool.submit(pumped(api.pump(job.id)(fork))): Unit
    sendJson(ex, 200, mapper.writeValueAsString(job.id))
  }

  private def abortJob(ex: HttpExchange): Unit = {
    val id = long(params(ex), "jobId")
    if (api.abortJob(id)) sendText(ex, 200, "")
    else sendText(ex, 404, s"no job with id $id")
  }

  private def jobStats(ex: HttpExchange): Unit = {
    val id = long(params(ex), "jobId")
    val stats = api.jobStats(id)
    val o = mapper.createObjectNode()
    o.put("State", HttpApi.stateCode(stats.state))
    val fc = o.putObject("FieldCount")
    stats.fieldOccurrences.toSeq.sortBy(_._1)
      .foreach { case (k, n) => fc.put(k, n) }
    o.put("NumMatchedEvents", stats.numMatchedEvents)
    sendJson(ex, 200, mapper.writeValueAsString(o))
  }

  private def jobResults(ex: HttpExchange): Unit = {
    val q = params(ex)
    // all params parse before the job lookup (Web.go:220-233: 400 wins
    // over 404)
    val id = long(q, "jobId")
    val skip = int(q, "skip")
    val take = int(q, "take")
    val job = api.job(id).getOrElse(throw JobsApi.NoSuchJobException(id))
    val rows = api.jobResultsWireJson(id, skip, take)
    val o = mapper.createObjectNode()
    val events = o.putArray("events")
    val tableRows = o.putArray("tableRows")
    val columnOrder = o.putArray("columnOrder")
    job.frame match {
      case _: EventsFrame =>
        o.put("resultType", 1) // PipeTypeEvents
        rows.foreach(s => events.add(mapper.readTree(s)))
      case TableFrame(_, order) =>
        o.put("resultType", 2) // PipeTypeTable
        order.foreach(columnOrder.add)
        rows.foreach(s => tableRows.add(mapper.readTree(s)))
    }
    sendJson(ex, 200, mapper.writeValueAsString(o))
  }

  /** `GET /api/v1/jobResultsAfter?jobId=&lastTs=&lastDocId=&take=` —
    * keyset pagination (extension; [[JobsApi.jobResultsAfter]]). `lastTs`
    * is RFC3339. Only timestampDesc jobs carry the total (ts, doc_id)
    * key; other sort modes answer 400 (the require inside JobsApi).
    */
  private def jobResultsAfter(ex: HttpExchange): Unit = {
    val q = params(ex)
    val id = long(q, "jobId")
    val take = int(q, "take")
    val lastTs = rfc3339(q.getOrElse("lastTs",
      throw new IllegalArgumentException("lastTs is required")))
    val lastDocId = q.getOrElse("lastDocId",
      throw new IllegalArgumentException("lastDocId is required"))
    val page = api.jobResultsAfterWireJson(id, lastTs, lastDocId, take)
    val o = mapper.createObjectNode()
    val events = o.putArray("events")
    o.putArray("tableRows")
    o.putArray("columnOrder")
    o.put("resultType", 1) // PipeTypeEvents (keyset implies the events sort)
    page.foreach(s => events.add(mapper.readTree(s)))
    sendJson(ex, 200, mapper.writeValueAsString(o))
  }

  private def jobFieldStats(ex: HttpExchange): Unit = {
    val q = params(ex)
    val id = long(q, "jobId")
    val field = q.getOrElse("fieldName",
      throw new IllegalArgumentException("fieldName is required"))
    // (value, occurrences) rows -> the reference's map[string]int wire
    // shape (Web.go:259-276 returns the full map). `take` caps how many
    // distinct values the driver collects — wire-compatible when omitted
    // (generous default), and the guard that keeps a high-cardinality
    // field (every doc_id distinct) from materializing millions of rows
    // on the driver. Top-occurrence values win the cut, ties by value —
    // deterministic, and the GUI shows most-frequent first anyway.
    val take = q.get("take").map(_.toInt).getOrElse(HttpApi.FieldStatsMaxValues)
    require(take >= 0, "take must be non-negative")
    val o = mapper.createObjectNode()
    api.jobFieldValues(id, field, take).foreach { case (v, n) => o.put(v, n) }
    sendJson(ex, 200, mapper.writeValueAsString(o))
  }

  /** The GUI pages (reference Web.go:138-160: `/`, `/search`, `/config`
    * serve the embedded bundle; here [[WebGui]]'s static HTML).
    */
  private def handleGui(ex: HttpExchange): Unit = {
    try {
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("GET", "/") | ("GET", "/search") =>
          send(ex, 200, WebGui.searchPage, "text/html; charset=utf-8")
        case ("GET", "/config") =>
          send(ex, 200, WebGui.configPage, "text/html; charset=utf-8")
        case ("GET", _) => sendText(ex, 404, "not found")
        case _ => sendText(ex, 405, "method not allowed")
      }
    } finally ex.close()
  }

  /** `GET /api/v1/enums/{name}` -> JSON string array. Provider names are
    * the reference's three (fileTypes / files / hostTypes); values come
    * from the attached config with [[graft.config.ConfigJson]]'s
    * normalization. Unknown provider -> 404 (the reference 500s — a typed
    * client error fits this surface's error mapping better).
    */
  private def enums(ex: HttpExchange, name: String): Unit = configPath match {
    case None => sendText(ex, 404, "no config file attached")
    case Some(p) =>
      val json = new String(Files.readAllBytes(p), UTF_8)
      graft.config.ConfigJson.enumValues(json, name) match {
        case None => sendText(ex, 404, s"no enum provider named $name")
        case Some(values) =>
          val arr = mapper.createArrayNode()
          values.foreach(arr.add)
          sendJson(ex, 200, mapper.writeValueAsString(arr))
      }
  }

  private def configGet(ex: HttpExchange): Unit = configPath match {
    case None => sendText(ex, 404, "no config file attached")
    case Some(p) => sendJson(ex, 200, new String(Files.readAllBytes(p), UTF_8))
  }

  private def configPost(ex: HttpExchange): Unit = {
    if (forceStaticConfig) {
      sendText(ex, 400,
        "cannot save configuration because forceStaticConfig is enabled")
      return
    }
    configPath match {
      case None => sendText(ex, 404, "no config file attached")
      case Some(p) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        graft.config.ConfigJson.parse(body): Unit // 400 via IllegalArgument/JSON errors
        // same-dir temp + ATOMIC_MOVE: the hot-reload reader (Main --stream
        // re-parses at micro-batch boundaries) sees old-or-new, never torn
        val tmp = Files.createTempFile(p.toAbsolutePath.getParent, ".config", ".tmp")
        Files.write(tmp, body.getBytes(UTF_8))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        sendText(ex, 200, "ok")
    }
  }

  // -------------------------------------------------------------- helpers

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
          case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
        }
      }.toMap

  private def long(q: Map[String, String], key: String): Long =
    try q.getOrElse(key, throw new IllegalArgumentException(s"$key is required")).toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"invalid $key") }

  private def int(q: Map[String, String], key: String): Int =
    try q.getOrElse(key, throw new IllegalArgumentException(s"$key is required")).toInt
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"invalid $key") }

  private def rfc3339(s: String): Timestamp =
    Timestamp.from(OffsetDateTime.parse(s).toInstant)

  private def sendJson(ex: HttpExchange, code: Int, body: String): Unit =
    send(ex, code, body, "application/json")

  private def sendText(ex: HttpExchange, code: Int, body: String): Unit =
    send(ex, code, body, "text/plain; charset=utf-8")

  private def send(ex: HttpExchange, code: Int, body: String, ct: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ct)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

object HttpApi {
  /** Default cap on distinct values a jobFieldStats response collects to
    * the driver — generous (the GUI shows a handful; the reference's UI
    * uses the map for the field sidebar), overridable per request with
    * `take`.
    */
  private[api] val FieldStatsMaxValues = 10000

  /** An exception as one log line: its class and the first line of its
    * message (a Spark job failure's message carries the task's stack).
    */
  private[api] def oneLine(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage)
      .flatMap(_.linesIterator.nextOption()).fold("")(": " + _)

  /** JobsApi state string -> the reference's numeric enum
    * (pkg/logsuck/jobs/Job.go:26-30).
    */
  def stateCode(state: String): Int = state match {
    case JobsApi.Running => 1
    case JobsApi.Finished => 2
    case JobsApi.Aborted => 3
    case other => throw new IllegalStateException(s"unknown state $other")
  }
}
