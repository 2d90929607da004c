package graft

import graft.api.{Info, QueryApi, SelfMetrics}
import graft.model.Dp
import org.apache.spark.sql.functions.col
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class ApiSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private def dpDf = spark.createDataset(Seq(
    Dp("m", Map("host" -> "h1", "dc" -> "east"), 0L, 1.0, 0),
    Dp("m", Map("host" -> "h1", "dc" -> "east"), H, 2.0, 1),
    Dp("m", Map("host" -> "h2", "dc" -> "east"), 0L, 10.0, 2),
    Dp("m", Map("host" -> "h2", "dc" -> "east"), H, 20.0, 3))).toDF()

  test("parseRequest: times, subqueries, rate options") {
    val q = QueryApi.parseRequest(
      """{"start":"2h-ago","end":1704412800,"msResolution":true,
        |"queries":[{"metric":"m","aggregator":"sum","downsample":"1h-avg",
        |  "rate":true,"rateOptions":{"counter":true,"counterMax":100},
        |  "tags":{"host":"*"},"explicitTags":false}]}""".stripMargin,
      nowMs = 1704412800000L)
    assert(q.startMs === 1704412800000L - 2 * H)
    assert(q.endMs === 1704412800000L)
    assert(q.msResolution)
    val sub = q.subQueries.head
    assert(sub.metric === "m" && sub.aggregator === "sum")
    assert(sub.downsample === Some("1h-avg"))
    assert(sub.rateOptions.counter && sub.rateOptions.counterMax === 100L)
    assert(sub.groupByTags === Seq("host"))
  }

  test("aggregateTags: differing tag moves out, unanimous stays") {
    val (tags, agg) = QueryApi.mergeTags(
      Seq(
        Map("host" -> "h1", "dc" -> "east"),
        Map("host" -> "h2", "dc" -> "east")),
      groupingKeys = Set.empty)
    assert(tags === Map("dc" -> "east"))
    assert(agg === Seq("host"))
    // grouping key with differing values stays in tags (per-group value)
    val (t2, a2) = QueryApi.mergeTags(
      Seq(Map("host" -> "h1"), Map("host" -> "h1")), Set("host"))
    assert(t2 === Map("host" -> "h1") && a2.isEmpty)
  }

  test("end-to-end JSON query: sum across hosts, OpenTSDB shape") {
    val body =
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"sum","tags":{}}]}""".stripMargin
    val q = QueryApi.parseRequest(body, nowMs = 2 * H)
    val json = QueryApi.runQuery(dpDf, q)
    // both series share dc=east (kept); host differs (aggregateTags)
    assert(json ===
      """[{"metric":"m","tags":{"dc":"east"},"aggregateTags":["host"],""" +
        """"dps":{"0":11.0,"3600":22.0}}]""")
  }

  test("no-index roster: one row per group, value rows array-free, single scan") {
    import graft.query.Planner
    val body =
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"sum","tags":{}}]}""".stripMargin
    val q = QueryApi.parseRequest(body, nowMs = 2 * H)
    val df = Planner.planRouted(dpDf, q, q.subQueries.head,
      Planner.Options(collectSeriesKeys = true))
    val rows = df.collect()
    val tsIdx = df.columns.indexOf("ts")
    val (roster, values) = rows.partition(_.isNullAt(tsIdx))
    // exactly one roster row (no grouping tags = one global group)
    assert(roster.length === 1)
    assert(roster.head.getAs[scala.collection.Seq[String]]("skeys_").size === 2)
    // value rows carry NO member arrays — driver weight is O(rows +
    // cardinality), not O(rows × members)
    assert(values.nonEmpty)
    assert(values.forall(_.isNullAt(df.columns.indexOf("skeys_"))))
    // and the roster branch's scan is pruned to the skey column alone —
    // the extra pass reads one column, not the fact data again
    val plan = df.queryExecution.executedPlan.toString
    val rosterScan = "LocalTableScan \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
      .find(cols => cols.contains("skey") && !cols.contains("value"))
    assert(rosterScan.isDefined, s"no pruned roster scan in plan:\n$plan")
  }

  test("API routes through rollups when configured, same JSON out") {
    import graft.rollup.Rollup
    import graft.query.Planner
    val body =
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"sum","downsample":"1h-sum","tags":{}}]}""".stripMargin
    val q = QueryApi.parseRequest(body, nowMs = 2 * H)
    val direct = QueryApi.runQuery(dpDf, q)
    val routed = QueryApi.runQuery(dpDf, q,
      Planner.Options(rollup1h = Some(Rollup.rollup1h(dpDf))))
    assert(routed === direct)
  }

  test("multi-subquery POST: result sets concatenate in request order") {
    val body =
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"sum","tags":{}},
        |  {"metric":"m","aggregator":"max","tags":{}}]}""".stripMargin
    val q = QueryApi.parseRequest(body, nowMs = 2 * H)
    val json = QueryApi.runQuery(dpDf, q)
    assert(json ===
      """[{"metric":"m","tags":{"dc":"east"},"aggregateTags":["host"],""" +
        """"dps":{"0":11.0,"3600":22.0}},""" +
        """{"metric":"m","tags":{"dc":"east"},"aggregateTags":["host"],""" +
        """"dps":{"0":10.0,"3600":20.0}}]""")
  }

  test("self-metrics: actions record latency samples queryable as dp") {
    val rec = SelfMetrics.install(spark)
    try {
      spark.range(100).count()
      // listener delivery is async on the listener bus — poll
      var samples = Seq.empty[SelfMetrics.Sample]
      val deadline = System.currentTimeMillis() + 10000
      while (samples.isEmpty && System.currentTimeMillis() < deadline) {
        samples = rec.drain()
        if (samples.isEmpty) Thread.sleep(50)
      }
      assert(samples.exists(s =>
        s.metric == "graft.query.latency.ms" && s.status == "ok" && s.value >= 0))
      assert(samples.exists(_.metric == "graft.query.count"))
      val dp = SelfMetrics.toDp(spark, samples)
      assert(dp.columns.toSeq === Seq("metric", "tags", "ts", "value", "seq"))
      // round-trips through the normal query planner
      val latest = dp.filter(col("metric") === "graft.query.latency.ms")
      assert(latest.count() >= 1)
    } finally spark.listenerManager.unregister(rec)
  }

  test("lookup: full LOOKUP shape with tag filters, totalResults unpaged") {
    val json = QueryApi.lookup(dpDf, "m{host=h1}")
    assert(json ===
      """{"type":"LOOKUP","metric":"m","limit":25,"startIndex":0,""" +
        """"totalResults":1,"results":[{"tsuid":"m,dc=east,host=h1",""" +
        """"metric":"m","tags":{"dc":"east","host":"h1"}}]}""")
    // no tag block: both series; paging caps results but not totalResults
    val paged = QueryApi.lookup(dpDf, "m", limit = 1, startIndex = 1)
    assert(paged ===
      """{"type":"LOOKUP","metric":"m","limit":1,"startIndex":1,""" +
        """"totalResults":2,"results":[{"tsuid":"m,dc=east,host=h2",""" +
        """"metric":"m","tags":{"dc":"east","host":"h2"}}]}""")
    // answered from a maintained series index: identical JSON
    val ix = graft.query.Meta.seriesTable(dpDf)
    assert(QueryApi.lookup(dpDf, "m{host=h1}", index = Some(ix)) === json)
    // filter-grammar values with commas survive the tag-block split
    assert(graft.query.Meta.parseLookupM("m{host=regexp(h[0-9]{1,3}),dc=east}") ===
      (("m", Map("host" -> "regexp(h[0-9]{1,3})", "dc" -> "east"))))
  }

  test("response cap: over-limit query refused with 413, never collected") {
    val body =
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"none","tags":{}}]}""".stripMargin
    val q = QueryApi.parseRequest(body, nowMs = 2 * H)
    // 4 dps in range; cap of 2 must refuse
    val refused = QueryApi.runQuery(dpDf, q, maxDps = 2)
    assert(refused ===
      """{"error":{"code":413,"message":"response too large: more than 2 data points"}}""")
    // at the cap exactly: normal response
    assert(QueryApi.runQuery(dpDf, q, maxDps = 4).startsWith("""[{"metric":"m""""))
    // the cap budgets the WHOLE response: two subs of 4 dps each must
    // refuse at maxDps=6 even though each sub alone fits
    val multi = QueryApi.parseRequest(
      """{"start":0,"end":7200,"queries":[
        |  {"metric":"m","aggregator":"none","tags":{}},
        |  {"metric":"m","aggregator":"none","tags":{}}]}""".stripMargin,
      nowMs = 2 * H)
    assert(QueryApi.runQuery(dpDf, multi, maxDps = 6).contains("\"code\":413"))
    assert(QueryApi.runQuery(dpDf, multi, maxDps = 8).startsWith("""[{"metric":"m""""))
  }

  test("info surfaces: version/config/filters/stats shapes") {
    import graft.ingest.JsonMini
    val v = JsonMini.parseObject(Info.versionJson).get
    assert(v("version") === Info.Version && v("engine") === "graft-spark")
    val c = JsonMini.parseObject(Info.configJson(spark)).get
    assert(c("tsdb.timestamp.resolution") === "millisecond")
    assert(c.contains("spark.sql.shuffle.partitions"))
    // a control char inside a loaded config VALUE must still yield
    // strict JSON (GraftConfig.escape, not a two-replace escape)
    val tabbed = GraftConfig.parse("log.file = a\tb")
    val cj = JsonMini.parseObject(Info.configJson(spark, Some(tabbed))).get
    assert(cj("log.file") === "a\tb")
    val f = JsonMini.parseObject(Info.configFiltersJson).get
    for (name <- Seq("literal_or", "iliteral_or", "not_literal_or",
        "not_iliteral_or", "wildcard", "iwildcard", "regexp")) {
      val entry = f(name).asInstanceOf[Map[String, Any]]
      assert(entry.contains("examples") && entry.contains("description"), name)
    }
    val lines = Info.statsLines(Seq(
      SelfMetrics.Sample("graft.query.latency.ms", "collect", "ok", 1000L, 2.5)))
    assert(lines === "graft.query.latency.ms 1000 2.5 func=collect status=ok")
    assert(Info.aggregatorsJson.startsWith("""["avg","bottom1""""))
  }

  test("NaN/Inf render as strings; msResolution keeps ms") {
    val rs = QueryApi.ResultSet("m", Map(), Nil,
      Seq((1000L, Double.NaN), (2000L, Double.PositiveInfinity), (3000L, 1.25)))
    assert(QueryApi.toJson(rs, msResolution = true) ===
      """{"metric":"m","tags":{},"aggregateTags":[],""" +
        """"dps":{"1000":"NaN","2000":"Inf","3000":1.25}}""")
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("q_cms_stream: streamed counters only overcount, top-20 exact") {
    val r = SparkEntry.queries("q_cms_stream")(spark, "/root/testdata/sf0.001")
      .select($"ukey", $"cnt", $"est", $"overcount")
      .as[(String, Long, Long, Long)].collect()
    assert(r.nonEmpty && r.length <= 20)
    r.foreach { case (u, cnt, est, over) =>
      assert(est >= cnt, s"$u CMS undercounted: est=$est < cnt=$cnt")
      assert(over === est - cnt, s"$u overcount column drifted")
    }
  }

  test("q_sessionize_stream: streamed sessions equal the batch gap split") {
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q_sessionize_stream")(spark, sf)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} sessions != batch ${batch.size}")
    streamed.foreach { case (_, st, en, n) =>
      assert(st <= en && n >= 1)
    }
  }

  test("streaming ingest: lines → dp → hourly rollup (memory sink)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dp = StreamIngest.dpStream(mem.toDS(), "plain")
    val rollup = StreamIngest.rollup1hStream(dp, lateness = "0 seconds")
    val query = rollup.writeStream
      .format("memory")
      .queryName("rollup_test")
      .outputMode(OutputMode.Append)
      .start()
    try {
      mem.addData(
        "put m 3600 1.5 host=a",
        "put m 4600 2.5 host=a",
        "put m 3700 10.0 host=b")
      query.processAllAvailable()
      // watermark 0s: append emits nothing until a later batch advances it
      mem.addData("put m 7300 9.9 host=a")
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT skey, wts, cnt, min, max, sum FROM rollup_test")
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      assert(rows.contains(("m,host=a", 3600000L, 2L, 1.5, 2.5, 4.0)))
      assert(rows.contains(("m,host=b", 3600000L, 1L, 10.0, 10.0, 10.0)))
    } finally query.stop()
  }

  test("streamed rollup rows equal the batch rollup of the same data") {
    import graft.rollup.Rollup
    implicit val sqlCtx = spark.sqlContext
    val lines = Seq(
      "put m 3600 1.5 host=a",
      "put m 4600 2.5 host=a",
      "put m 3700 10.0 host=b",
      "put m 8000 4.0 host=a")
    val mem = MemoryStream[String]
    val q = StreamIngest.rollup1hStream(
      StreamIngest.dpStream(mem.toDS(), "plain"), lateness = "0 seconds")
      .writeStream.format("memory").queryName("r1h_eq")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(lines: _*)
      q.processAllAvailable()
      mem.addData("put m 999999 0.0 host=w") // advance watermark: flush all
      q.processAllAvailable()
      val streamed = spark.sql("SELECT skey, wts, cnt, min, max, sum FROM r1h_eq")
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      val batch = Rollup.rollup1h(
        graft.ingest.Ingest.fromPlain(spark.createDataset(lines)))
        .select("skey", "wts", "cnt", "min", "max", "sum")
        .as[(String, Long, Long, Double, Double, Double)].collect().toSet
      assert(batch.subsetOf(streamed)) // streamed adds only the flusher row
      assert((streamed -- batch).forall(_._1 == "m,host=w"))
    } finally q.stop()
  }

  test("end-to-end: streamed lines → parquet → planner query answers") {
    import graft.model.{SubQuery, TsQuery}
    import graft.query.Planner
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val mem = MemoryStream[String]
    val dp = StreamIngest.dpStream(mem.toDS(), "plain")
    val writer = StreamIngest.writeRaw(dp, s"$dir/data", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData( // before start(): see "streaming seq" below
      "put m 1704412800 1.0 host=a",
      "put m 1704412860 3.0 host=a",
      "put m 1704412800 10.0 host=b")
    val q = writer.start()
    q.awaitTermination(30000)
    val stored = spark.read.parquet(s"$dir/data")
      .select("metric", "tags", "ts", "value", "seq")
    val res = Planner
      .planSub(stored, TsQuery(1704412800000L, 1704416400000L),
        SubQuery("m", "sum", Some("1h-avg"), tags = Map("host" -> "*"),
          groupByTags = Seq("host")))
      .select("tag_host", "value").as[(String, Double)].collect().toMap
    assert(res === Map("a" -> 2.0, "b" -> 10.0))
  }

  test("self-metrics round-trip: drained samples answer a planner query") {
    import graft.model.{SubQuery, TsQuery}
    import graft.query.Planner
    val samples = Seq(
      SelfMetrics.Sample("graft.query.latency.ms", "count", "ok", 1000L, 12.5),
      SelfMetrics.Sample("graft.query.latency.ms", "collect", "ok", 2000L, 7.5),
      SelfMetrics.Sample("graft.query.count", "count", "ok", 1000L, 1.0))
    val dp = SelfMetrics.toDp(spark, samples)
    val res = Planner
      .planSub(dp, TsQuery(0L, 10000L),
        SubQuery("graft.query.latency.ms", "avg", Some("0all-avg"),
          tags = Map("status" -> "ok")))
      .select("value").as[Double].collect().toSeq
    assert(res === Seq(10.0))
  }

  test("streaming corpus dedup: each batch dedups against the growing index") {
    import graft.pipeline.Dedup
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("incr_dedup").toString
    val (bandsP, shP, keptP) = (s"$root/bands", s"$root/sh", s"$root/kept")
    val fs = new java.io.File(bandsP)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.persist()
        // survivors = batch minus docs near-dup to the indexed corpus.
        // Dup ids resolve EAGERLY (bounded by the batch) before the index
        // appends below — a lazy anti-join would be re-planned per write
        // and, after its own bands/shingles append, match the survivor
        // against itself (recacheByPath refreshes path-backed caches)
        val keep =
          if (!fs.exists()) b
          else {
            val dup = Dedup.incrementalNearDups(b,
              spark.read.parquet(bandsP), spark.read.parquet(shP))
              .select("new_id").distinct()
              .collect().map(_.getLong(0)).toSeq
            if (dup.isEmpty) b
            else b.filter(!org.apache.spark.sql.functions.col("doc_id").isin(dup: _*))
          }
        // append survivors' bands + shingles: the index GROWS per batch,
        // later batches dedup against everything kept so far
        Dedup.lshBandIndex(keep).write.mode("append").parquet(bandsP)
        Dedup.shingleHashes(keep).select("id", "h")
          .write.mode("append").parquet(shP)
        keep.select("doc_id").write.mode("append").parquet(keptP)
        b.unpersist(); ()
      }
      .start()
    try {
      mem.addData((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven"))
      q.processAllAvailable()
      mem.addData((3L, "alpha beta gamma delta epsilon zeta"), // dup of 1
        (4L, "completely different fresh content arrives here"))
      q.processAllAvailable()
      mem.addData((5L, "one two three four five six seven")) // dup of 2
      q.processAllAvailable()
      val kept = spark.read.parquet(keptP).as[Long].collect().toSet
      assert(kept === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming interval join matches the batch operator, state watermark-bounded") {
    import graft.query.SeriesJoin
    import graft.streaming.StreamJoin
    implicit val sqlCtx = spark.sqlContext
    val H = 3600L * 1000
    val base = 1700000000000L
    // (key, ts, payload); right errors land before/inside/after the
    // 2h-lookback windows of the left clicks
    val leftRows = Seq(
      ("u1", base + 3 * H, 1.0), // window [base+1h, base+3h]
      ("u2", base + 5 * H, 2.0)) // window [base+3h, base+5h]
    val rightRows = Seq(
      ("u1", base + 2 * H, 10.0), // inside u1's window
      ("u1", base + 3 * H, 11.0), // boundary: equal ts is inclusive
      ("u1", base + 0 * H, 12.0), // too old for u1
      ("u2", base + 4 * H, 20.0), // inside u2's window
      ("u3", base + 4 * H, 30.0)) // key with no left rows
    val lMem = MemoryStream[(String, Long, Double)]
    val rMem = MemoryStream[(String, Long, Double)]
    val joined = StreamJoin.intervalJoinStream(
      lMem.toDS().toDF("k", "ts", "x"),
      rMem.toDS().toDF("k", "ts", "y"),
      Seq("k"), lower = -2 * H, upper = 0L)
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory")
      .queryName("sj_interval").outputMode("append").start()
    try {
      // feed across two triggers so pairing spans micro-batches (the
      // u1 right rows arrive before their matching left row)
      rMem.addData(rightRows.take(3): _*)
      q.processAllAvailable()
      lMem.addData(leftRows: _*)
      rMem.addData(rightRows.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("sj_interval")
        .select("k", "ts", "x", "right_ts", "y")
        .as[(String, Long, Double, Long, Double)].collect().toSet
      val batch = SeriesJoin.intervalJoin(
        leftRows.toDF("k", "ts", "x"), rightRows.toDF("k", "ts", "y"),
        Seq("k"), lower = -2 * H, upper = 0L)
        .select("k", "ts", "x", "right_ts", "y")
        .as[(String, Long, Double, Long, Double)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set(
        ("u1", base + 3 * H, 1.0, base + 2 * H, 10.0),
        ("u1", base + 3 * H, 1.0, base + 3 * H, 11.0),
        ("u2", base + 5 * H, 2.0, base + 4 * H, 20.0)))
      // the range predicate must have produced a state watermark (the
      // eviction guarantee that bounds state at ingest scale)
      val progress = q.lastProgress
      assert(progress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("streaming as-of enrichment finalizes exactly the batch as-of result") {
    import graft.query.SeriesJoin
    import graft.streaming.StreamJoin
    implicit val sqlCtx = spark.sqlContext
    val lefts = Seq( // (k, ts, v)
      ("u1", 500L, 3.0), // before any right → no match
      ("u1", 3000L, 1.0), // → right@1000
      ("u1", 6000L, 2.0), // → right@5000 (arrives a batch later)
      ("u2", 7000L, 4.0)) // equal-ts right is an inclusive match
    val rights = Seq(
      ("u1", 1000L, 10.0),
      ("u1", 5000L, 50.0),
      ("u2", 7000L, 70.0))
    val lMem = MemoryStream[(String, Long, Double)]
    val rMem = MemoryStream[(String, Long, Double)]
    val out = StreamJoin.asofEnrichStream(
      lMem.toDS().toDF("k", "ts", "v"),
      rMem.toDS().toDF("k", "ts", "y"), lateness = "10 seconds")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory")
      .queryName("sj_asof").outputMode("append").start()
    try {
      // batch 1: all lefts, but one right arrives late (next batch) —
      // nothing can finalize yet (watermark below every left)
      lMem.addData(lefts: _*)
      rMem.addData(rights.filterNot(_._2 == 5000L): _*)
      q.processAllAvailable()
      assert(spark.table("sj_asof").count() === 0)
      // batch 2: the late right + a watermark-pushing flush row; batch 3:
      // a second flush — watermarks take effect one batch late, and the
      // per-key event-time timeout then wakes u1/u2 without new data
      rMem.addData(("zz", 50000L, 0.0), ("u1", 5000L, 50.0))
      q.processAllAvailable()
      rMem.addData(("zz", 60000L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sj_asof")
        .select("k", "ts", "v", "asof_ts", "y")
        .as[(String, Long, Double, Option[Long], Option[Double])]
        .collect().toSet
      val batch = SeriesJoin.asofJoin(
        lefts.toDF("k", "ts", "v"),
        rights.map { case (k, t, y) => (k, t, y) }.toDF("k", "ts", "y"),
        Seq("k"))
        .select("k", "ts", "v", "asof_ts", "y")
        .as[(String, Long, Double, Option[Long], Option[Double])]
        .collect().toSet
      assert(streamed === batch)
      assert(streamed === Set(
        ("u1", 500L, 3.0, None, None),
        ("u1", 3000L, 1.0, Some(1000L), Some(10.0)),
        ("u1", 6000L, 2.0, Some(5000L), Some(50.0)),
        ("u2", 7000L, 4.0, Some(7000L), Some(70.0))))
    } finally q.stop()
  }

  test("streaming as-of enrichment: arbitrary schemas match batch asofJoin") {
    import graft.query.SeriesJoin
    import graft.streaming.StreamJoin
    implicit val sqlCtx = spark.sqlContext
    // two key columns; multi-column payloads on both sides (a string
    // label + a double on the right — the batch operator's struct trick)
    val lefts = Seq( // (dc, host, ts, x, note)
      ("east", "h1", 1000L, 1.5, "a"),
      ("east", "h1", 4000L, 2.5, "b"),
      ("west", "h2", 4000L, 3.5, "c"))
    val rights = Seq( // (dc, host, ts, y, label)
      ("east", "h1", 500L, 10.0, "r1"),
      ("east", "h1", 3000L, 30.0, "r2"),
      ("west", "h2", 9000L, 90.0, "r3")) // after the left → no match
    val lMem = MemoryStream[(String, String, Long, Double, String)]
    val rMem = MemoryStream[(String, String, Long, Double, String)]
    val out = StreamJoin.asofEnrichStream(
      lMem.toDS().toDF("dc", "host", "ts", "x", "note"),
      rMem.toDS().toDF("dc", "host", "ts", "y", "label"),
      keyCols = Seq("dc", "host"), lateness = "10 seconds")
    val q = out.writeStream.format("memory")
      .queryName("sj_asof_g").outputMode("append").start()
    try {
      lMem.addData(lefts: _*)
      rMem.addData(rights: _*)
      q.processAllAvailable()
      rMem.addData(("zz", "zz", 50000L, 0.0, "w")) // watermark push
      q.processAllAvailable()
      rMem.addData(("zz", "zz", 60000L, 0.0, "w")) // timeout wake
      q.processAllAvailable()
      val cols = Seq("dc", "host", "ts", "x", "note", "asof_ts", "y", "label")
      val streamed = spark.table("sj_asof_g").select(cols.map(col): _*)
        .as[(String, String, Long, Double, String,
          Option[Long], Option[Double], Option[String])].collect().toSet
      val batch = SeriesJoin.asofJoin(
        lefts.toDF("dc", "host", "ts", "x", "note"),
        rights.toDF("dc", "host", "ts", "y", "label"),
        Seq("dc", "host")).select(cols.map(col): _*)
        .as[(String, String, Long, Double, String,
          Option[Long], Option[Double], Option[String])].collect().toSet
      assert(streamed === batch)
      assert(streamed.contains(
        ("east", "h1", 4000L, 2.5, "b", Some(3000L), Some(30.0), Some("r2"))))
      assert(streamed.contains(
        ("west", "h2", 4000L, 3.5, "c", None, None, None)))
    } finally q.stop()
  }

  test("streaming seq: in-batch duplicates resolve deterministically, last wins") {
    import graft.model.{SubQuery, TsQuery}
    import graft.query.Planner
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_seq").toString
    val mem = MemoryStream[String]
    // one partition ⇒ arrival order is the line order
    val dp = StreamIngest.dpStream(mem.toDS().repartition(1), "plain")
    val writer = StreamIngest.writeRaw(dp, s"$dir/data", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // data first: AvailableNow fixes its end offset when the query
    // starts, so lines added after start() may never be read
    mem.addData( // three writes to the SAME (series, ts) in ONE batch
      "put m 1704412800 1.0 host=a",
      "put m 1704412800 2.0 host=a",
      "put m 1704412800 3.0 host=a")
    val q = writer.start()
    q.awaitTermination(30000)
    val stored = spark.read.parquet(s"$dir/data")
      .select("metric", "tags", "ts", "value", "seq")
    // seq strictly increasing in arrival order (values arrived 1,2,3)
    val seqs = stored.orderBy("value").select("seq").as[Long].collect().toSeq
    assert(seqs === seqs.sorted && seqs.distinct.size === 3)
    // last-wins dedup picks the batch's last write, not an arbitrary one
    val res = Planner
      .planSub(stored, TsQuery(1704412800000L, 1704412801000L), SubQuery("m", "none"))
      .select("value").as[Double].collect().toSeq
    assert(res === Seq(3.0))
  }

  test("streaming into the maintained store: metadata fresh per micro-batch") {
    import graft.model.{SubQuery, TsQuery}
    import graft.query.Planner
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_store").toString
    val st = new graft.store.Store(spark, s"$dir/store")
    val mem = MemoryStream[String]
    val dp = StreamIngest.dpStream(mem.toDS().repartition(1), "plain")
    val writer = StreamIngest.writeStore(dp, st, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData( // before start(): see "streaming seq" above
      "put m 3600 1.5 host=a",
      "put m 7200 2.5 host=a",
      "put m 3600 9.0 host=b",
      "put m 3600 2.0 host=a") // in-batch duplicate ts → slice marked OOO
    val q = writer.start()
    q.awaitTermination(60000)
    assert(st.data.count() === 4)
    assert(st.seriesIndex.select("skey").as[String].collect().toSet ===
      Set("m,host=a", "m,host=b"))
    assert(st.oooMarks.as[(String, Long)].collect().toSet === Set(("m,host=a", 0L)))
    // routed query from the maintained metadata: duplicate resolved last-wins
    val res = Planner.planRouted(
      st.data, TsQuery(0L, 2 * 3600000L),
      SubQuery("m", "none", Some("1h-avg")), st.plannerOptions())
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    assert(res === Set(
      ("m,host=a", 3600000L, 2.0), ("m,host=a", 7200000L, 2.5),
      ("m,host=b", 3600000L, 9.0)))
  }

  test("silence alerts: event-time gap per series via custom state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dp = StreamIngest.dpStream(mem.toDS().repartition(1), "plain")
    val alerts = StreamIngest.silenceAlerts(dp, silenceMs = 10000L)
    val q = alerts.toDF("skey", "last_ts", "gap_ms").writeStream
      .format("memory").queryName("silence")
      .outputMode(OutputMode.Append).start()
    try {
      // host c's gap falls entirely INSIDE this first batch
      mem.addData("put m 100 1.0 host=a", "put m 100 1.0 host=b",
        "put m 100 1.0 host=c", "put m 50100 2.0 host=c")
      q.processAllAvailable()
      // a goes silent for 50000s of event time; b stays within 10s
      mem.addData("put m 105 2.0 host=b", "put m 50100 3.0 host=a")
      q.processAllAvailable()
      val rows = spark.sql("SELECT skey, last_ts, gap_ms FROM silence")
        .as[(String, Long, Long)].collect().toSet
      assert(rows === Set(
        ("m,host=a", 100000L, 50000000L),
        ("m,host=c", 100000L, 50000000L)))
    } finally q.stop()
  }

  test("streaming cusum walks the same states regardless of batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    // reference stats mu=10, sigma=1 → muQ=100000, kQ=5000, hQ=50000;
    // feed a level shift to 14 split across batches with in-batch
    // disorder, expect the exact sequential walk's alarms
    val mem = MemoryStream[(String, Long, Double)]
    val alerts = StreamIngest.cusumAlerts(
      mem.toDS().toDF("skey", "ts", "value").repartition(1),
      mu = 10.0, sigma = 1.0)
    val q = alerts.toDF("skey", "ts", "score").writeStream
      .format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(("s", 1L, 10.0), ("s", 3L, 10.2), ("s", 2L, 9.8))
      q.processAllAvailable()
      mem.addData(("s", 5L, 14.0), ("s", 4L, 14.0), ("s", 6L, 14.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT skey, ts, score FROM cusum_stream")
        .as[(String, Long, Double)].collect().toSet
      // sequential walk: per point S += q - 100000 - 5000 (floored at 0)
      var s = 0L
      val expect = Seq(
        (1L, 100000L), (2L, 98000L), (3L, 102000L),
        (4L, 140000L), (5L, 140000L), (6L, 140000L)).flatMap { case (ts, yq) =>
        s = math.max(0L, s + yq - 100000L - 5000L)
        if (s > 50000L) Some(("s", ts, s / 10000.0)) else None
      }.toSet
      assert(got === expect)
    } finally q.stop()
  }

  test("streaming raw sink: date-partitioned parquet append") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_raw").toString
    val mem = MemoryStream[String]
    val dp = StreamIngest.dpStream(mem.toDS(), "plain")
    val writer = StreamIngest.writeRaw(dp, s"$dir/data", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    mem.addData("put m 1704412800 5.5 host=a") // before start(): see "streaming seq"
    val q = writer.start()
    q.awaitTermination(30000)
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() === 1)
    assert(back.columns.contains("date"))
    assert(back.select("value").as[Double].head() === 5.5)
  }

  test("streaming dedup within watermark: re-delivered keys dropped, " +
    "first arrival wins") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val mem = MemoryStream[(Long, Long, Double)] // (seq, ts, value)
    val out = mem.toDS().toDF("seq", "ts", "value")
      .withColumn("ets", timestamp_millis(col("ts")))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("seq")
      .drop("ets")
    val q = out.writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((1L, 1000L, 1.0), (2L, 2000L, 2.0))
      q.processAllAvailable()
      // re-delivery of seq=1 with a DIFFERENT value: must be dropped
      // (first arrival won), while the new seq=3 passes
      mem.addData((1L, 1500L, 99.0), (3L, 3000L, 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT seq, value FROM dedup_wm_test")
        .as[(Long, Double)].collect().toSet
      assert(rows === Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    } finally q.stop()
  }
}
