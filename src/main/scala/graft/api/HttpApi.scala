package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ingest.LineParsers
import graft.model.Dp
import graft.query.{Meta, MExpr}
import graft.store.Store
import org.apache.spark.sql.SparkSession

/** Real HTTP transport mounting the codec layer on the JDK's built-in
  * server — the Spark-side twin of the reference's HTTP endpoint table
  * (`src/core/http.cpp:95-116`, over its TCP server `src/core/tcp.cpp:339`).
  * Zero new dependencies: `com.sun.net.httpserver` ships with the JDK.
  *
  * The driver JVM hosts the server; each query plans and runs ordinary
  * Spark jobs, so its heavy lifting is distributed while the HTTP edge
  * only shuttles the capped, collected response. A put's parsed batch is
  * already on the driver, and the store commits it there, with no Spark
  * job ([[Store.ingest]]'s `Seq[Dp]` form). All JSON/text
  * shaping stays in the codec objects ([[QueryApi]], [[Info]], [[Admin]],
  * [[Meta]]) — this file is routing, parameter decoding, ingest seq
  * stamping, and status codes.
  *
  * Status codes mirror the reference: 400 with a plain-text message for
  * malformed requests (`query.cpp:1355-1412,1549`), empty-body 413 when a
  * result overflows the response cap (`query.cpp:1644`), `{"success":n,
  * "failed":m}` for JSON puts (`tsdb.cpp:2380-2382`), plain 200/400 for
  * plain puts and Influx writes (`tsdb.cpp:2478,2591`), and 200 `[]` for
  * a query that matches nothing.
  *
  * Ingest contract: each request takes a fresh `seq` window (a shifted
  * wall-clock base, monotonic across requests) so the maintained store's
  * cross-batch last-wins dedup stays correct.
  */
final class HttpApi(
    spark: SparkSession,
    store: Store,
    port: Int = 0, // 0 = ephemeral (tests)
    maxDps: Int = QueryApi.DefaultMaxDps,
    recorder: Option[SelfMetrics.Recorder] = None,
    nowMs: () => Long = () => System.currentTimeMillis(),
    // pass the process-wide instance when other transports ingest into
    // the same store (ServerMain does) — independent counters would
    // break cross-transport last-wins ordering
    sharedSeqs: Option[graft.ingest.SeqWindows] = None,
    // loopback by default (tests, embedded); "0.0.0.0" to serve remotely
    bindAddr: String = "127.0.0.1",
    // the loaded engine config: /api/config serves its entries (the
    // reference returns the loaded property map, http.cpp:864-872)
    config: Option[graft.GraftConfig] = None) {

  private val server = HttpServer.create(new InetSocketAddress(bindAddr, port), 0)

  /** Ephemeral-port lookup for clients. */
  def boundPort: Int = server.getAddress.getPort

  // per-request seq window: wall-clock-seeded, strictly advancing even
  // when two requests land in the same millisecond (same scheme as the
  // streaming seq, Ingest.withSeq; shared with the socket transports)
  private val seqs = sharedSeqs.getOrElse(new graft.ingest.SeqWindows(nowMs))
  private def nextSeqWindow(): Long = seqs.next()

  def start(): this.type = {
    server.createContext("/api/query", ex => handle(ex) {
      case "GET" => queryGet(params(ex))
      case "POST" => queryPost(body(ex))
    })
    server.createContext("/api/put", ex => handle(ex) { case "POST" => put(body(ex)) })
    server.createContext("/api/write", ex => handle(ex) { case "POST" => write(body(ex)) })
    server.createContext("/api/suggest", ex => handle(ex) { case "GET" => suggest(params(ex)) })
    server.createContext("/api/search/lookup", ex => handle(ex) { case "GET" => lookup(params(ex)) })
    server.createContext("/api/aggregators", ex => handle(ex) {
      case "GET" => (200, Info.aggregatorsJson, Json)
    })
    // one context: the JDK server prefix-routes, so /api/config/filters
    // would otherwise be swallowed by /api/config
    server.createContext("/api/config", ex => handle(ex) {
      case "GET" if ex.getRequestURI.getPath.endsWith("/filters") =>
        (200, Info.configFiltersJson, Json)
      case "GET" => (200, Info.configJson(spark, config), Json)
    })
    server.createContext("/api/stats", ex => handle(ex) { case "GET" => stats() })
    server.createContext("/api/version", ex => handle(ex) {
      case "GET" => (200, Info.versionJson, Json)
    })
    server.createContext("/api/admin", ex => handle(ex) { case "POST" => admin(params(ex)) })
    server.setExecutor(pool)
    server.start()
    this
  }

  // daemon threads (an embedding JVM must exit without an explicit
  // stop()) and shut down on stop() so nothing leaks across instances
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t })

  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---- handlers ---------------------------------------------------------

  private def queryPost(content: String): (Int, String, String) = {
    if (content.trim.isEmpty)
      return (400, "Error: POST request content is null. Did you mean to use GET instead?\n", Plain)
    val q =
      try QueryApi.parseRequest(content, nowMs())
      catch { case e: IllegalArgumentException => return (400, s"Error: ${e.getMessage}\n", Plain) }
    runQuery(q)
  }

  private def queryGet(p: Map[String, Seq[String]]): (Int, String, String) = {
    val q =
      try MExpr.parseGet(p, nowMs())
      catch { case e: IllegalArgumentException => return (400, s"Error: ${e.getMessage}\n", Plain) }
    runQuery(q)
  }

  private def runQuery(q: graft.model.TsQuery): (Int, String, String) =
    try (200, QueryApi.executeQuery(
      QueryApi.storeFrame(store, q), q, store.plannerOptions(), maxDps), Json)
    catch {
      // reference sends an empty-body 413 (query.cpp:1644)
      case QueryApi.ResponseTooLarge(_) => (413, "", Plain)
      case e: IllegalArgumentException => (400, s"Error: ${e.getMessage}\n", Plain)
    }

  /** `POST /api/put` — sniffs JSON vs plain-put by the first non-space
    * byte, exactly like `Tsdb::http_api_put_handler` (tsdb.cpp:2325-2337).
    */
  private def put(content: String): (Int, String, String) = {
    val t = content.trim
    if (t.startsWith("{") || t.startsWith("[")) {
      val dps = LineParsers.parseJson(t)
      val attempted = math.max(countJsonPuts(t), dps.size)
      ingest(dps)
      val failed = attempted - dps.size
      (if (failed <= 0) 200 else 400,
        s"""{"success":${dps.size},"failed":$failed}""", Json)
    } else {
      val lines = t.linesIterator.toSeq
      val dps = lines.flatMap(LineParsers.parsePlain)
      ingest(dps)
      // inline replication checkpoints (tsdb.cpp:2440-2450), credited
      // after the request's own data committed; other non-put commands
      // (version, …) are tolerated like the reference's socket loop —
      // only malformed put lines fail the request
      lines.map(_.trim).filter(_.startsWith("_cp "))
        .foreach(l => store.checkpoints.add(l.stripPrefix("_cp ").trim))
      val attempted = lines.count(_.trim.startsWith("put "))
      ((if (dps.size == attempted) 200 else 400), "", Plain)
    }
  }

  /** `POST /api/write` — InfluxDB line protocol (tsdb.cpp:2498-2592).
    * Parseable lines ingest even when a sibling line is malformed, but
    * any malformed line turns the status 400 (tsdb.cpp:2591) — same
    * partial-accept contract as [[put]].
    */
  private def write(content: String): (Int, String, String) = {
    val now = nowMs()
    val lines = content.linesIterator.toSeq
    val dps = lines.flatMap(l => LineParsers.parseInflux(l, now))
    ingest(dps)
    // inline replication checkpoints ride the influx stream too
    // (tsdb.cpp:2522-2540) — credited after the data committed, excluded
    // from the well-formed check like any other non-data command
    lines.map(_.trim).filter(_.startsWith("_cp "))
      .foreach(l => store.checkpoints.add(l.stripPrefix("_cp ").trim))
    ((if (lines.filterNot(_.trim.startsWith("_cp "))
      .forall(LineParsers.influxWellFormed)) 200 else 400), "", Plain)
  }

  private def ingest(dps: Seq[Dp]): Unit =
    if (dps.nonEmpty) store.ingest(seqs.stamp(dps))

  /** Top-level element count of a JSON put body (for the failed count —
    * the reference counts per-object parse failures, tsdb.cpp:2349-2378).
    * String-aware: braces inside JSON string values don't count.
    */
  private def countJsonPuts(t: String): Int =
    if (t.startsWith("{")) 1
    else {
      var depth = 0; var n = 0; var inStr = false; var esc = false
      t.foreach { c =>
        if (inStr) {
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => depth += 1; if (depth == 1) n += 1
          case '}' => depth -= 1
          case _ => ()
        }
      }
      n
    }

  /** `GET /api/suggest?type=&q=&max=` (tsdb.cpp:2596-2709): type and q
    * are required (400), unknown types yield an empty list.
    */
  private def suggest(p: Map[String, Seq[String]]): (Int, String, String) = {
    val typ = p.get("type").flatMap(_.headOption)
      .getOrElse(return (400, "", Plain))
    val q = p.get("q").flatMap(_.headOption)
      .getOrElse(return (400, "", Plain))
    val max = p.get("max").flatMap(_.headOption).flatMap(_.toIntOption).getOrElse(1000)
    // the series index is the dim table — suggest never scans fact data
    val dim = store.seriesIndex
    val df = typ match {
      case "metrics" => Some(Meta.suggestMetrics(dim, q, max))
      case "tagk" => Some(Meta.suggestTagKeys(dim, q, max))
      case "tagv" => Some(Meta.suggestTagValues(dim, q, max))
      case _ => None
    }
    val vals = df.map(_.collect().map(_.getString(0)).toSeq).getOrElse(Nil)
    // names come from ingest unvalidated — escape or a quote in a
    // metric name breaks the response JSON
    (200, vals.map(v => "\"" + jsonEscape(v) + "\"").mkString("[", ",", "]"), Json)
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `GET /api/search/lookup?m=&limit=&startIndex=` (query.cpp:1477-1602). */
  private def lookup(p: Map[String, Seq[String]]): (Int, String, String) = {
    val m = p.get("m").flatMap(_.headOption)
      .getOrElse(return (400, "Error: API call search/lookup requires 'm' parameter.\n", Plain))
    val limit = p.get("limit").flatMap(_.headOption).flatMap(_.toIntOption).getOrElse(25)
    val start = p.get("startIndex").flatMap(_.headOption).flatMap(_.toIntOption).getOrElse(0)
    (200, QueryApi.lookup(store.data, m, limit, start, Some(store.seriesIndex)), Json)
  }

  /** `GET /api/stats`: flush the recorder's samples into the store (the
    * reference writes its `ticktock.*` self-metrics back into itself,
    * stats.cpp:230-600) and return them as put lines.
    */
  private def stats(): (Int, String, String) =
    (200, Info.statsLines(flushSelfMetrics()), Plain)

  /** Drain self-metrics into the store; returns the flushed samples.
    * Callable on a schedule by the host as well as via `/api/stats`.
    */
  def flushSelfMetrics(): Seq[SelfMetrics.Sample] = {
    val samples = recorder.map(_.drain()).getOrElse(Nil)
    if (samples.nonEmpty)
      store.ingest(SelfMetrics.toDp(samples, nextSeqWindow()))
    samples
  }

  private def admin(p: Map[String, Seq[String]]): (Int, String, String) =
    Admin.execute(spark, p.view.mapValues(_.head).toMap, Some(store)) match {
      case Right(bodyText) => (200, bodyText, Plain)
      case Left(err) => (400, err, Plain)
    }

  // ---- plumbing ---------------------------------------------------------

  private val Json = "application/json"
  private val Plain = "text/plain"

  /** Request body, inflated by `Content-Encoding` first — the reference
    * accepts `deflate`/`gzip`/`x-gzip` request bodies on the write path
    * (`include/http.h:109`, `src/core/http.cpp:1187-1210`; tcollector
    * POSTs gzipped /api/put batches). zlib-wrapped vs raw deflate both
    * occur in the wild: try zlib first, fall back to `nowrap`.
    */
  private def body(ex: HttpExchange): String = {
    val raw = ex.getRequestBody.readAllBytes()
    val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .map(_.trim.toLowerCase).getOrElse("identity")
    val bytes = enc match {
      case "gzip" | "x-gzip" =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      case "deflate" =>
        def inflate(nowrap: Boolean): Array[Byte] = {
          val in = new java.util.zip.InflaterInputStream(
            new java.io.ByteArrayInputStream(raw),
            new java.util.zip.Inflater(nowrap))
          try in.readAllBytes() finally in.close()
        }
        try inflate(false)
        catch { case _: java.util.zip.ZipException => inflate(true) }
      case _ => raw
    }
    new String(bytes, UTF_8)
  }

  private def params(ex: HttpExchange): Map[String, Seq[String]] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).toSeq
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
        else URLDecoder.decode(kv.substring(0, i), UTF_8) ->
          URLDecoder.decode(kv.substring(i + 1), UTF_8)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  private def handle(ex: HttpExchange)(
      route: PartialFunction[String, (Int, String, String)]): Unit = {
    val (status, bodyText, ctype) =
      try route.applyOrElse(ex.getRequestMethod,
        (m: String) => (405, s"method $m not allowed\n", Plain))
      catch { case e: Throwable => (500, s"Error: ${e.getMessage}\n", Plain) }
    val bytes = bodyText.getBytes(UTF_8)
    try {
      ex.getResponseHeaders.set("Content-Type", ctype)
      // sendResponseHeaders treats length 0 as chunked; -1 = no body
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } finally ex.close()
  }
}
