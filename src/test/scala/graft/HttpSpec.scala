package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.{HttpApi, Info, QueryApi, SelfMetrics}
import graft.model.TsQuery

/** End-to-end HTTP transport: boots [[HttpApi]] on an ephemeral port over
  * a fresh maintained store, PUTs data through the wire, queries it back,
  * and byte-compares the responses against the codec layer. Error paths
  * mirror the reference's status codes (400 / 413 / empty 200).
  */
class HttpSpec extends SparkSpec {

  private val H = 3600000L
  // epoch anchor inside the magnitude-normalization "seconds" band
  // (plain-put and query times are sec-or-ms by magnitude, like the
  // reference): 2024-01-05 00:00:00 UTC
  private val T0s = 1704412800L
  private val T2s = T0s + 7200L
  private val Now = (T0s + 4 * 3600L) * 1000L

  private lazy val recorder = SelfMetrics.install(spark)
  private lazy val store = new graft.store.Store(
    spark, java.nio.file.Files.createTempDirectory("http_store").toString)
  private lazy val api =
    new HttpApi(spark, store, recorder = Some(recorder), nowMs = () => Now).start()
  private lazy val client = HttpClient.newHttpClient()
  private def base = s"http://127.0.0.1:${api.boundPort}"

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("put lines over the wire, query them back: byte-equal to the codec layer") {
    val lines = Seq(
      s"put m $T0s 1.0 host=h1 dc=east",
      s"put m ${T0s + 3600} 2.0 host=h1 dc=east",
      s"put m $T0s 10.0 host=h2 dc=east",
      s"put m ${T0s + 3600} 20.0 host=h2 dc=east").mkString("\n")
    val r = post("/api/put", lines)
    assert(r.statusCode() === 200)

    val body = s"""{"start":$T0s,"end":$T2s,"queries":[
                  |  {"metric":"m","aggregator":"sum","tags":{}}]}""".stripMargin
    val resp = post("/api/query", body)
    assert(resp.statusCode() === 200)
    assert(resp.headers().firstValue("Content-Type").orElse("") === "application/json")
    // same request through the codecs directly — must be byte-identical
    val q = QueryApi.parseRequest(body, nowMs = Now)
    val direct = QueryApi.runQuery(store.data, q, store.plannerOptions())
    assert(resp.body() === direct)
    assert(resp.body() ===
      s"""[{"metric":"m","tags":{"dc":"east"},"aggregateTags":["host"],""" +
        s""""dps":{"$T0s":11.0,"${T0s + 3600}":22.0}}]""")
  }

  test("a put commits from the driver: no Spark job, no generated class") {
    import org.apache.spark.ListenerProbe
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 300 lines over 12 series on two dates, some rewriting a point
    val lines = (0 until 300).map { i =>
      val ts = T0s - 1800 + 30L * (i % 120)
      s"put driver.m $ts ${i * 0.5} host=h${i % 6} dc=d${i % 2}"
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    api.boundPort // the server boots before the count starts
    ListenerProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(post("/api/put", lines.mkString("\n")).statusCode() === 200)
      ListenerProbe.drain(sc)
      assert(jobs.get === 0, "Spark jobs run by the put")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
        "classes compiled by the put")
    } finally sc.removeSparkListener(listener)
    // committed, and the last line of a rewritten (series, ts) wins
    val last = (0 until 300).groupMapReduce(i => (i % 6, i % 120))(identity)(_ max _)
    val resp = post("/api/query",
      s"""{"start":${T0s - 1800},"end":$T2s,"queries":[
         |{"metric":"driver.m","aggregator":"sum","downsample":"0all-sum"}]}""".stripMargin)
    assert(resp.statusCode() === 200)
    assert(resp.body().contains(s":${last.values.map(_ * 0.5).sum}}"), resp.body())
  }

  test("gzip and deflate request bodies inflate before parse (tcollector)") {
    def postEncoded(path: String, body: Array[Byte],
        encoding: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Encoding", encoding)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def gzipped(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    def deflated(s: String, nowrap: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.DeflaterOutputStream(bos, d)
      out.write(s.getBytes("UTF-8")); out.close()
      bos.toByteArray
    }
    val r1 = postEncoded("/api/put",
      gzipped(s"put gz.m $T0s 1.5 host=gz"), "gzip")
    assert(r1.statusCode() === 200)
    val r2 = postEncoded("/api/put",
      deflated(s"put gz.m ${T0s + 60} 2.5 host=gz", nowrap = false), "deflate")
    assert(r2.statusCode() === 200)
    val r3 = postEncoded("/api/put", // raw-deflate variant some agents send
      deflated(s"put gz.m ${T0s + 120} 3.5 host=gz", nowrap = true), "deflate")
    assert(r3.statusCode() === 200)
    // gzipped query POST round-trips the ingested points back out
    val q = postEncoded("/api/query", gzipped(
      s"""{"start":$T0s,"end":$T2s,"queries":[
         |  {"metric":"gz.m","aggregator":"none","tags":{}}]}""".stripMargin),
      "gzip")
    assert(q.statusCode() === 200)
    assert(q.body().contains(s""""$T0s":1.5"""))
    assert(q.body().contains(s""""${T0s + 60}":2.5"""))
    assert(q.body().contains(s""""${T0s + 120}":3.5"""))
  }

  test("GET query: m= grammar equals the POST result") {
    post("/api/put", s"put m $T0s 1.0 host=h1 dc=east") // dup ts, last wins, same value
    val g = get(s"/api/query?start=$T0s&end=$T2s&m=sum:m")
    val p = post("/api/query",
      s"""{"start":$T0s,"end":$T2s,"queries":[{"metric":"m","aggregator":"sum","tags":{}}]}""")
    assert(g.statusCode() === 200)
    assert(g.body() === p.body())
  }

  test("JSON put: object and array forms with success counts") {
    val one = post("/api/put",
      """{"metric":"j","timestamp":100,"value":1.5,"tags":{"host":"a"}}""")
    assert(one.statusCode() === 200 && one.body() === """{"success":1,"failed":0}""")
    val arr = post("/api/put",
      """[{"metric":"j","timestamp":101,"value":2.5,"tags":{"host":"a"}},
        | {"metric":"j","timestamp":102,"value":3.5,"tags":{"host":"b"}}]""".stripMargin)
    assert(arr.statusCode() === 200 && arr.body() === """{"success":2,"failed":0}""")
    val bad = post("/api/put", """[{"metric":"j","timestamp":103,"value":4.5},{"bogus":1}]""")
    assert(bad.statusCode() === 400 && bad.body() === """{"success":1,"failed":1}""")
  }

  test("influx write round-trips through the wire") {
    val r = post("/api/write", s"wm,host=a temp=65.5,hum=80 ${T0s}000000000")
    assert(r.statusCode() === 200)
    // structurally malformed lines turn the status 400 (tsdb.cpp:2591);
    // parseable siblings still ingest — same partial-accept as /api/put
    val bad = post("/api/write",
      s"wm,host=a temp=66.5 ${T0s + 60}000000000\ngarbage-no-fields")
    assert(bad.statusCode() === 400)
    // a well-formed line with only string fields is NOT an error
    val strOnly = post("/api/write", s"""wm,host=a note="hi" ${T0s}000000000""")
    assert(strOnly.statusCode() === 200)
    val resp = post("/api/query",
      s"""{"start":$T0s,"end":$T0s,"queries":[{"metric":"wm","aggregator":"none","tags":{}}]}""")
    assert(resp.body().contains(""""temp""""))
    assert(resp.body().contains("65.5") && resp.body().contains("80"))
  }

  test("influx write: inline _cp checkpoints are credited, excluded from well-formed") {
    // a replication client checkpointing over /api/write (tsdb.cpp:2522-2540)
    val r = post("/api/write",
      s"wcp,host=a temp=1.5 ${T0s}000000000\n_cp lw:chw:77")
    assert(r.statusCode() === 200) // _cp is not a malformed influx line
    assert(store.checkpoints.liveMap.get("lw") === Some(Map("chw" -> "77")))
  }

  test("suggest and lookup answer from the series index") {
    post("/api/put", "put sug.one 0 1.0 host=h9")
    val s = get("/api/suggest?type=metrics&q=sug&max=5")
    assert(s.statusCode() === 200 && s.body() === """["sug.one"]""")
    val k = get("/api/suggest?type=tagk&q=ho")
    assert(k.statusCode() === 200 && k.body().contains("host"))
    val l = get("/api/search/lookup?m=sug.one")
    assert(l.statusCode() === 200)
    assert(l.body().contains(""""metric":"sug.one"""") &&
      l.body().contains(""""totalResults":1"""))
  }

  test("info endpoints: version, aggregators, config, filters, stats") {
    assert(get("/api/version").body() === Info.versionJson)
    assert(get("/api/aggregators").body() === Info.aggregatorsJson)
    assert(get("/api/config").body() === Info.configJson(spark))
    assert(get("/api/config/filters").body() === Info.configFiltersJson)
    assert(get("/api/stats").statusCode() === 200)
  }

  test("admin: ping, stat, unknown command") {
    assert(post("/api/admin?cmd=ping", "").body() === "pong")
    assert(post("/api/admin?cmd=stat", "").statusCode() === 200)
    val bad = post("/api/admin?cmd=frobnicate", "")
    assert(bad.statusCode() === 400 && bad.body().contains("unrecognized"))
  }

  test("error paths mirror the reference: 400s, 413, empty 200") {
    // POST with no content (query.cpp:1359-1361)
    val empty = post("/api/query", "")
    assert(empty.statusCode() === 400 && empty.body().contains("Did you mean to use GET"))
    // missing start (query.cpp:1376-1379)
    val noStart = post("/api/query", """{"queries":[]}""")
    assert(noStart.statusCode() === 400 && noStart.body().startsWith("Error:"))
    val noStartGet = get("/api/query?m=sum:m")
    assert(noStartGet.statusCode() === 400 &&
      noStartGet.body().contains("Must specify start time"))
    // lookup without m (query.cpp:1546-1549)
    assert(get("/api/search/lookup").statusCode() === 400)
    // suggest without type/q (tsdb.cpp:2602-2614)
    assert(get("/api/suggest?q=x").statusCode() === 400)
    assert(get("/api/suggest?type=metrics").statusCode() === 400)
    // unknown metric: empty result set, not an error (reference returns [])
    val none = post("/api/query",
      s"""{"start":$T0s,"queries":[{"metric":"no.such.metric","aggregator":"sum","tags":{}}]}""")
    assert(none.statusCode() === 200 && none.body() === "[]")
    // 413 with an empty body when the response overflows the cap
    // (query.cpp:1644) — a second server over the same store, cap = 3 dps
    val tiny = new HttpApi(spark, store, maxDps = 3, nowMs = () => Now).start()
    try {
      val big = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${tiny.boundPort}/api/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"start":$T0s,"end":$T2s,"queries":[{"metric":"m","aggregator":"none","tags":{}}]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(big.statusCode() === 413 && big.body() === "")
    } finally tiny.stop()
  }

  test("suggest escapes JSON-hostile names; braces in strings don't skew put counts") {
    // quotes are legal in the plain-put grammar (tokens are space-split)
    post("/api/put", """put esc"q 0 1.0 host=x""")
    val s = get("""/api/suggest?type=metrics&q=esc""")
    assert(s.statusCode() === 200 && s.body() === """["esc\"q"]""")
    // a '}' inside a string value must not corrupt the attempted count
    val r = post("/api/put",
      """[{"metric":"esc.m}x","timestamp":100,"value":1.0,"tags":{"h":"a"}}]""")
    assert(r.statusCode() === 200 && r.body() === """{"success":1,"failed":0}""")
  }

  test("self-metrics flush: recorded latencies become queryable graft.* series") {
    spark.range(100).count() // recorded by the listener (async delivery)
    var flushed = Seq.empty[SelfMetrics.Sample]
    val deadline = System.currentTimeMillis() + 10000
    while (flushed.isEmpty && System.currentTimeMillis() < deadline) {
      flushed = api.flushSelfMetrics()
      if (flushed.isEmpty) Thread.sleep(50)
    }
    assert(flushed.nonEmpty)
    val ts0 = flushed.map(_.tsMs).min - 1000
    val ts1 = flushed.map(_.tsMs).max + 1000
    val resp = post("/api/query",
      s"""{"start":$ts0,"end":$ts1,"msResolution":true,
         |"queries":[{"metric":"graft.query.latency.ms","aggregator":"none","tags":{}}]}"""
        .stripMargin)
    assert(resp.statusCode() === 200)
    assert(resp.body().contains(""""metric":"graft.query.latency.ms""""))
    assert(resp.body().contains(""""func""""))
  }

  test("server soak: 50 puts and 50 queries leave no cache beyond the first pair") {
    val soakStore = new graft.store.Store(
      spark, java.nio.file.Files.createTempDirectory("http_soak").toString)
    val soak = new HttpApi(spark, soakStore, nowMs = () => Now).start()
    val at = s"http://127.0.0.1:${soak.boundPort}"
    def send(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$at$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    val query = s"""{"start":$T0s,"end":$T2s,"queries":[
                   |  {"metric":"soak","aggregator":"sum","tags":{}}]}""".stripMargin
    // request i puts one point per host at minute i, then reads the sum
    def round(i: Int): Unit = {
      val ts = T0s + 60L * i
      val put = send("/api/put", Seq("h1", "h2")
        .map(h => s"put soak $ts ${i + 1}.0 host=$h").mkString("\n"))
      assert(put.statusCode() === 200, s"put $i: ${put.body()}")
      val q = send("/api/query", query)
      assert(q.statusCode() === 200, s"query $i: ${q.body()}")
      assert(q.body().contains(s""""$ts":${2.0 * (i + 1)}"""), s"query $i: ${q.body()}")
    }
    try {
      round(0)
      val afterFirst = cacheState()
      (1 until 50).foreach(round)
      assertNoCacheBeyond(afterFirst, "50 HTTP puts and queries")
    } finally soak.stop()
  }
}
