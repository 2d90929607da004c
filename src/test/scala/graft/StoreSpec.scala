package graft

import graft.api.QueryApi
import graft.model.{Dp, RateOptions, RollupUsage, SubQuery, TsQuery}
import graft.query.{FillPolicy, Planner}
import graft.rollup.Rollup
import graft.store.Store
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private val D = 86400000L

  private def mkDp(rows: Seq[(String, String, Long, Double, Long)]) =
    spark.createDataset(rows.map { case (m, h, ts, v, q) =>
      Dp(m, Map("host" -> h), ts, v, q)
    }).toDF()

  test("data dir present but no committed files yet: empty frame, not a scan error") {
    // the state a concurrent reader sees while the FIRST append still
    // holds only _temporary content (caught live in the ServerMain demo)
    val dir = java.nio.file.Files.createTempDirectory("store_race").toString
    val store = new Store(spark, dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/data/_temporary"))
    assert(store.data.count() === 0)
    assert(store.data.columns.toSeq === Dp.columns)
  }

  test("maintained rollup_1d equals the daily aggregate of maintained rollup_1h") {
    val dir = java.nio.file.Files.createTempDirectory("store_1d").toString
    val store = new Store(spark, dir)
    val t0 = 1704412800000L
    store.ingest(mkDp((0 until 30).map(i =>
      ("d1.m", s"h${i % 2}", t0 + i * 2 * H, i.toDouble, i.toLong))))
    store.ingest(mkDp(Seq(("d1.m", "h0", t0 + 50 * H, 99.0, 100L))))
    val fromStore = store.rollup1d.orderBy("skey", "wts").collect().toSeq
    val derived = Rollup.rollup1d(store.rollup1h)
      .select("skey", "wts", "cnt", "min", "max", "sum")
      .orderBy("skey", "wts").collect().toSeq
    assert(fromStore === derived && fromStore.nonEmpty)
  }

  test("ingest releases every intermediate it cached") {
    val dir = java.nio.file.Files.createTempDirectory("store_cache").toString
    val store = new Store(spark, dir)
    val t0 = 1704412800000L
    val before = cacheState()
    store.ingest(mkDp((0 until 20).map(i =>
      ("cache.m", s"h${i % 3}", t0 + i * H, i.toDouble, i.toLong))))
    // a late point: the second commit merges prior slice state and rollups
    store.ingest(mkDp(Seq(("cache.m", "h0", t0 + 30 * 60000L, 7.0, 99L))))
    assertNoCacheBeyond(before, "Store.ingest")
    assert(store.data.filter(col("metric") === "cache.m").count() === 21)
  }

  test("concurrent ingests from many threads serialize: nothing lost") {
    val dir = java.nio.file.Files.createTempDirectory("store_mt").toString
    val store = new Store(spark, dir)
    val t0 = 1704412800000L
    // 4 writer threads × 3 batches each, distinct series per thread
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 3).foreach { b =>
        store.ingest(mkDp(Seq(
          ("mt.m", s"h$t", t0 + b * H, t * 100.0 + b, (t * 10 + b).toLong))))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(store.data.filter(col("metric") === "mt.m").count() === 12)
    // every series got its slice state and rollup rows committed
    assert(store.seriesIndex.filter(col("metric") === "mt.m").count() === 4)
    assert(store.rollup1h.join(
      store.seriesIndex.filter(col("metric") === "mt.m").select("skey"),
      "skey").count() === 12)
  }

  test("incremental metadata equals the full derivation") {
    // 2 series × 3 days with an in-chunk OOO pair, a cross-chunk
    // duplicate timestamp, and a NaN — each marking its slice
    val rows = Seq(
      ("m", "a", 1000L, 1.0, 1L),
      ("m", "a", H + 1000L, 2.0, 2L),
      ("m", "b", 2000L, 5.0, 3L),
      ("m", "a", 500L, 9.0, 4L), // in-chunk OOO (ts < slice hwm)
      ("m", "b", D + 1000L, 6.0, 5L),
      ("m", "a", 2 * D + 1000L, 7.0, 6L),
      ("m", "b", D + 500L, Double.NaN, 7L), // NaN marks its slice
      ("m", "a", 2 * D + 2000L, 8.0, 8L),
      ("m", "b", 2 * D + 100L, 4.0, 9L),
      ("m", "a", H + 1000L, 3.0, 10L)) // cross-chunk duplicate ts (day 0)
    val all = mkDp(rows)
    val root = java.nio.file.Files.createTempDirectory("store_spec").toString
    val st = new Store(spark, root)
    // three seq-ordered ingest batches
    Seq(
      rows.filter(_._5 <= 4),
      rows.filter(r => r._5 > 4 && r._5 <= 7),
      rows.filter(_._5 > 7)).foreach(ch => st.ingest(mkDp(ch)))

    val marks = st.oooMarks.as[(String, Long)].collect().toSet
    val truth = Rollup.oooSlices(all).as[(String, Long)].collect().toSet
    assert(marks === truth)
    assert(truth.contains(("m,host=a", 0L))) // OOO + duplicate
    assert(truth.contains(("m,host=b", D))) // NaN
    assert(!truth.exists(_._2 == 2 * D)) // day 2 clean

    // maintained rollup == batch rollup over all rows (NaN-poisoned
    // slices compared via the marks assertion above; NaN != NaN)
    val cols = Seq("skey", "wts", "cnt", "min", "max", "sum")
    val r1h = st.rollup1h.filter(!isnan(col("sum")))
      .select(cols.map(col): _*)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    val r1hTruth = Rollup.rollup1h(all).filter(!isnan(col("sum")))
      .select(cols.map(col): _*)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(r1h === r1hTruth)

    val ix = st.seriesIndex.select("skey", "metric")
      .as[(String, String)].collect().toSet
    assert(ix === Set(("m,host=a", "m"), ("m,host=b", "m")))

    assert(st.data.count() === rows.size)
  }

  test("randomized: incremental state equals full derivation (fixed seed)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      val host = s"h${rnd.nextInt(4)}"
      val ts = rnd.nextInt(3) * D + rnd.nextInt(86400) * 1000L
      val v = if (rnd.nextInt(40) == 0) Double.NaN else rnd.nextDouble() * 100
      ("m", host, ts, v, i.toLong)
    }
    val all = mkDp(rows)
    val root = java.nio.file.Files.createTempDirectory("store_rand").toString
    val st = new Store(spark, root)
    rows.grouped(75).foreach(ch => st.ingest(mkDp(ch.toSeq)))

    val marks = st.oooMarks.as[(String, Long)].collect().toSet
    val truth = Rollup.oooSlices(all).as[(String, Long)].collect().toSet
    assert(marks === truth)
    assert(truth.nonEmpty) // random OOO data actually exercised marking

    val cols = Seq("skey", "wts", "cnt", "min", "max", "sum")
    val r1h = st.rollup1h.filter(!isnan(col("sum")))
      .select(cols.map(col): _*)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    val r1hTruth = Rollup.rollup1h(all).filter(!isnan(col("sum")))
      .select(cols.map(col): _*)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSet
    assert(r1h === r1hTruth)
  }

  test("routed query from maintained metadata: no window over raw, equals truth") {
    val base = (0 until 48).map(i => ("m", "a", i * H + 500L, i.toDouble, 100L + i))
    val late = Seq(("m", "a", 10 * H + 500L, 99.0, 1000L)) // dup ts, later batch
    val root = java.nio.file.Files.createTempDirectory("store_routed").toString
    val st = new Store(spark, root)
    st.ingest(mkDp(base))
    st.ingest(mkDp(late))

    val q = TsQuery(0L, 2 * D)
    val sub = SubQuery("m", "none", Some("6h-avg"))
    val routed = Planner.planRouted(st.data, q, sub, st.plannerOptions())
    // with maintained marks the routed plan must NOT re-derive OOO state
    // (a window-sort over the raw day span)
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"routed plan re-derives OOO marks:\n$plan")

    val got = routed.select("skey", "ts", "value")
      .as[(String, Long, Double)].collect().toSet
    val truth = Planner.planSub(st.data, q, sub)
      .select("skey", "ts", "value")
      .as[(String, Long, Double)].collect().toSet
    assert(got === truth)

    // the stale stored rollup alone would answer the dirty slice wrong —
    // the maintained mark + raw fallback is what makes `got` correct
    val stale = Rollup.downsampleFromRollup(st.rollup1h, 6 * H, "avg")
      .filter(col("ts").between(0L, 2 * D))
      .select("skey", "ts", "value")
      .as[(String, Long, Double)].collect().toSet
    assert(stale !== truth)
  }

  test("concurrent reads during ingest commits: metadata complete, data monotone") {
    val root = java.nio.file.Files.createTempDirectory("store_conc").toString
    // gcGraceMs = 0: this test asserts the GC floor (2 manifests); the
    // grace window has its own test below
    val st = new Store(spark, root, compactEveryBatches = 0, gcGraceMs = 0L)
    st.ingest(mkDp(Seq(("m", "a", 1000L, 1.0, 1L)))) // day 0 committed
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var stop = false
    @volatile var lastDataCount = 0L
    @volatile var lastSeries = 0L
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // manifest commit: the rollup/state tables must never lose day 0
          val r = st.rollup1h.count()
          if (r < 1) failures.add(s"rollup1h read saw $r rows")
          val sMarks = st.oooMarks.count() // may be 0 (clean data) — just no throw
          require(sMarks >= 0)
          // append-only data: counts never go backwards
          val d = st.data.count()
          if (d < lastDataCount) failures.add(s"data count went $lastDataCount -> $d")
          lastDataCount = d
          // the catalog reloads while the writer commits: the append-only
          // index never shrinks
          val n = st.seriesIndex.count()
          if (n < lastSeries) failures.add(s"series index went $lastSeries -> $n")
          lastSeries = n
        } catch {
          case e: Throwable => failures.add(s"read threw: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      // every batch also brings a series the index has not seen
      (2 to 10).foreach { i =>
        st.ingest(mkDp(Seq(("m", "a", 1000L + i * 7, i.toDouble, i.toLong),
          ("m", s"n$i", 1000L + i * 7, i.toDouble, 100L + i))))
      }
    } finally { stop = true; reader.join() }
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    assert(lastDataCount > 0)
    assert(st.seriesIndex.count() === 10)
    // generations are GC'd: at most 2 manifests + their dirs remain
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/rollup_1h"))
      .map(_.getPath.getName).count(_.startsWith("manifest."))
    assert(manifests <= 2)
  }

  test("GC grace: a frame resolved before later commits stays readable") {
    val root = java.nio.file.Files.createTempDirectory("store_grace").toString
    val st = new Store(spark, root) // default grace (10 min)
    st.ingest(mkDp(Seq(("m", "a", 1000L, 1.0, 1L))))
    // resolve the manifest NOW (what a long query's plannerOptions does)
    val held = st.rollup1h
    val before = held.count()
    // several more commits supersede that generation
    (2 to 6).foreach(i => st.ingest(mkDp(Seq(("m", "a", 1000L + i, i.toDouble, i.toLong)))))
    // the held frame still reads its generation dirs — grace keeps them
    assert(held.count() >= before)
  }

  test("dataForRange prunes to the queried days' files") {
    val D = graft.rollup.Rollup.DayMs
    val root = java.nio.file.Files.createTempDirectory("store_range").toString
    val st = new Store(spark, root, compactEveryBatches = 0)
    // ten days of data, one point per day
    (0 until 10).foreach(i =>
      st.ingest(mkDp(Seq(("m", "a", i * D + 1000L, i.toDouble, i.toLong)))))
    // file-level pruning with ±1-day slack: the window's rows are all
    // present; the row-level ts filter is the planner's job downstream
    val pruned = st.dataForRange(5 * D, 6 * D)
    val got = pruned.select("value").as[Double].collect().toSet
    assert(Set(5.0, 6.0).subsetOf(got) && got.subsetOf(Set(4.0, 5.0, 6.0, 7.0)))
    // the scan's file list is the window's days (±1 slack), not all ten
    val scanned = pruned.queryExecution.sparkPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }).sum
    assert(scanned <= 4, s"expected <= 4 files scanned, got $scanned")
  }

  test("compaction swap: a pre-swap reader still reads; data unchanged") {
    val root = java.nio.file.Files.createTempDirectory("store_swap").toString
    val st = new Store(spark, root, compactEveryBatches = 0) // manual compact
    (0 until 6).foreach(i =>
      st.ingest(mkDp(Seq(("m", "a", 1000L + i, i.toDouble, i.toLong)))))
    val held = st.data // resolves the pre-compaction manifest
    val before = held.count()
    st.compactDay("1970-01-01")
    // grace keeps the superseded small files readable for the held frame
    assert(held.count() === before)
    // and a fresh read resolves the dense file with identical content
    assert(st.data.count() === before)
    assert(st.data.select("ts", "value").as[(Long, Double)].collect().toSet ===
      (0 until 6).map(i => (1000L + i, i.toDouble)).toSet)
  }

  test("auto-compaction keeps data file count bounded with results unchanged") {
    val root = java.nio.file.Files.createTempDirectory("store_compact").toString
    // gcGraceMs = 0: the assertion counts physical files, so superseded
    // ones must go immediately rather than after the grace window
    val st = new Store(spark, root, compactEveryBatches = 5, gcGraceMs = 0L)
    val rows = (0 until 20).map(i => ("m", "a", 1000L + i, i.toDouble, i.toLong))
    rows.grouped(1).foreach(ch => st.ingest(mkDp(ch.toSeq)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data/date=1970-01-01"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    // 20 single-row appends, compacted every 5 batches: the newest
    // manifest holds one dense file; the always-kept previous manifest
    // still references its generation (<= 1 dense + 5 appends) until the
    // next commit supersedes it — bounded at 7 either way, not 20
    assert(files <= 7, s"expected <= 7 files after compaction cadence, got $files")
    val got = st.data.select("ts", "value").as[(Long, Double)].collect().toSet
    assert(got === rows.map(r => (r._3, r._4)).toSet)
  }

  /** Call sites of the Spark jobs `f` runs: each job's stage call sites
    * plus its SQL execution's (AQE and broadcast jobs start on their own
    * threads and carry only the execution id).
    */
  private def jobSites(f: => Unit): Seq[String] = {
    import org.apache.spark.ListenerProbe
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execs = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.put(s.executionId, s.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execs.get(id.toLong)))
        sites.add((e.stageInfos.map(_.details) ++ exec).mkString("\n"))
      }
    }
    val sc = spark.sparkContext
    ListenerProbe.drain(sc)
    sc.addSparkListener(listener)
    try { f; ListenerProbe.drain(sc) }
    finally sc.removeSparkListener(listener)
    sites.toArray(Array.empty[String]).toSeq
  }

  private val T0 = 1704412800000L // day-aligned

  /** Two days of three hosts over two dcs, then a late batch that
    * rewrites points and marks slices OOO.
    */
  private def servedStore(name: String): Store = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    val st = new Store(spark, root, compactEveryBatches = 0)
    val hosts = Seq("a" -> "east", "b" -> "east", "c" -> "west")
    st.ingest(srvDp(for {
      ((h, dc), i) <- hosts.zipWithIndex; k <- 0 until 48
    } yield (h, dc, T0 + k * H + i * 1000L, (k * 3 + i).toDouble, (i * 100 + k).toLong)))
    st.ingest(srvDp(Seq(("a", "east", T0 + 5 * H, 99.0, 1000L),
      ("c", "west", T0 + 30 * H + 2000L, -1.0, 1001L))))
    st
  }

  /** `srv.m` points as (host, dc, ts, value, seq). */
  private def srvDp(rows: Seq[(String, String, Long, Double, Long)]) =
    spark.createDataset(rows.map { case (h, dc, ts, v, q) =>
      Dp("srv.m", Map("host" -> h, "dc" -> dc), ts, v, q)
    }).toDF()

  private val servedQueries = Seq(
    // routed to rollup_1h, with the late batch's OOO fallback
    """{"start":1704412800,"end":1704585599,"queries":[{"metric":"srv.m",
      |"aggregator":"sum","downsample":"6h-avg","tags":{"dc":"*"}}]}""",
    // raw: dev has no rollup form
    """{"start":1704412800,"end":1704585599,"queries":[{"metric":"srv.m",
      |"aggregator":"max","downsample":"1d-dev","tags":{"host":"literal_or(a|c)"}}]}""",
    // first across series, ordered by the resolved key set's rank
    """{"start":1704412800,"end":1704585599,"queries":[{"metric":"srv.m",
      |"aggregator":"first","downsample":"1h-max"}]}""",
    // one result set per series
    """{"start":1704412800,"end":1704499199,"queries":[{"metric":"srv.m",
      |"aggregator":"none","downsample":"12h-min","tags":{"host":"b"}}]}""")
    .map(b => QueryApi.parseRequest(b.stripMargin))

  test("aggregated store query: no Spark job outside its answer's collect") {
    val st = servedStore("store_jobs")
    servedQueries.take(3).foreach { q =>
      var json = ""
      val sites = jobSites { json = QueryApi.runQuery(st, q) }
      assert(json.contains("\"dps\":{\""), json)
      // a small input plans in one partition: the collect is one job
      assert(sites.size === 1, sites.mkString("\n----\n"))
      // series, marks and aggregateTags all resolve from the catalog
      sites.foreach(site => assert(site.contains("QueryApi$.cappedCollect"),
        s"a job ran outside the answer's collect:\n$site"))
    }
  }

  /** The six shapes of the wirebench `serve` workload, over
    * [[servedStore]]'s metric, hosts and two days.
    */
  private val servedShapes: Seq[(String, TsQuery)] = {
    val (h, d) = (H / 1000, D / 1000)
    val (start, e) = (T0 / 1000, T0 / 1000 + 2 * d)
    def body(from: Long, sub: String) =
      QueryApi.parseRequest(s"""{"start":$from,"end":$e,"queries":[{"metric":"srv.m",$sub}]}""")
    Seq(
      "dash_6h" -> body(e - 6 * h,
        """"aggregator":"avg","downsample":"1m-avg","tags":{"host":"wildcard(*)"}"""),
      "week_1h" -> body(e - 7 * d,
        """"aggregator":"avg","downsample":"1h-avg","tags":{"dc":"*"}"""),
      "hist_1d" -> body(start,
        """"aggregator":"max","downsample":"1d-max","tags":{"host":"literal_or(a|c)"}"""),
      "day_p99" -> body(e - d, """"aggregator":"p99","downsample":"15m-avg""""),
      "hist_dev" -> body(start,
        """"aggregator":"avg","downsample":"1d-dev","tags":{"dc":"*"}"""),
      "rate_6h" -> body(e - 6 * h,
        """"aggregator":"sum","rate":true,"rateOptions":{"counter":true},"tags":{"dc":"*"}"""))
  }

  /** The `PushedFilters` of each file scan in a physical plan, sorted. */
  private def pushedFilters(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect { case s: FileSourceScanExec => s.metadata("PushedFilters") }.sorted
  }

  test("each served shape over a small store runs one job, no exchange, and pushes the parallel plan's filters") {
    val st = servedStore("store_shapes")
    servedShapes.foreach { case (shape, q) =>
      val sub = q.subQueries.head
      def plan(force: Option[Boolean]) = Planner.planRouted(QueryApi.storeFrame(st, q),
        q, sub, st.plannerOptions(), force).queryExecution.executedPlan
      val small = plan(None)
      val f = Explain.fingerprint(small)
      assert(f.exchanges === 0 && f.broadcastJoins === 0, s"$shape:\n$small")
      // the coalesce sits above the filters: every scan keeps its pushdown
      val pushed = pushedFilters(small)
      assert(pushed.nonEmpty && pushed.forall(_ != "[]"), s"$shape: $pushed")
      assert(pushed === pushedFilters(plan(Some(false))), shape)
      var json = ""
      val sites = jobSites { json = QueryApi.runQuery(st, q) }
      assert(json.contains("\"dps\":{\""), s"$shape: $json")
      assert(sites.size === 1, s"$shape:\n${sites.mkString("\n----\n")}")
    }
  }

  test("a store input above SmallInputBytes keeps its parallel plan and its exchanges") {
    val root = java.nio.file.Files.createTempDirectory("store_large").toString
    val st = new Store(spark, root, compactEveryBatches = 0)
    // one point a second for 60 series over 3 hours: a few MB of parquet
    st.ingest(spark.range(0, 60 * 3 * 3600).select(
      lit("big.m").as("metric"),
      map(lit("host"), concat(lit("h"), (col("id") % 60).cast("string"))).as("tags"),
      (lit(T0) + expr("id div 60") * 1000L).as("ts"),
      (col("id") % 1000).cast("double").as("value"),
      col("id").as("seq")))
    val q = QueryApi.parseRequest(s"""{"start":${T0 / 1000},"end":${T0 / 1000 + 3 * 3600},
      |"queries":[{"metric":"big.m","aggregator":"sum","downsample":"1m-max"}]}""".stripMargin)
    val dp = QueryApi.storeFrame(st, q)
    assert(Planner.estimatedBytes(dp) > Planner.SmallInputBytes, Planner.estimatedBytes(dp))
    val df = Planner.planRouted(dp, q, q.subQueries.head, st.plannerOptions())
    val plan = df.queryExecution.executedPlan
    assert(Explain.fingerprint(plan).exchanges > 0, plan)
    assert(QueryApi.runQuery(st, q) === QueryApi.executeQuery(dp, q, st.plannerOptions(),
      QueryApi.DefaultMaxDps, force = Some(true)))
  }

  test("property: the one-partition plan answers every sub-query as the parallel plan does") {
    val root = java.nio.file.Files.createTempDirectory("store_equiv").toString
    val st = new Store(spark, root, compactEveryBatches = 0)
    val rnd = new scala.util.Random(11)
    var seq = 0L
    def next() = { seq += 1; seq }
    def dps(rows: Seq[(String, Int, Long, Long)]) = spark.createDataset(rows.map {
      case (m, host, ts, v) =>
        Dp(m, Map("host" -> s"h$host", "dc" -> (if (host % 2 == 0) "east" else "west")),
          ts, v.toDouble, next())
    }).toDF()
    // a gauge of six hosts every 20 minutes over two days, with gaps,
    // and a counter of four hosts every 30 minutes that resets; integer
    // values, in three batches
    val gauge = for {
      k <- 0 until 144; host <- 0 until 6 if rnd.nextInt(7) != 0
    } yield ("eq.g", host, T0 + k * 20 * 60000L, rnd.nextInt(1000).toLong)
    val counter = (0 until 4).flatMap { host =>
      var v = 0L
      (0 until 96).map { k =>
        v = if (rnd.nextInt(20) == 0) rnd.nextInt(10).toLong else v + rnd.nextInt(100)
        ("eq.c", host, T0 + k * 30 * 60000L, v)
      }
    }
    (gauge ++ counter).sortBy(_._3).grouped(800).foreach(b => st.ingest(dps(b)))
    // a late batch: rewrites and off-grid points behind the high-water
    // mark mark (series, day) slices out of order on both days
    st.ingest(dps((0 until 12).map { i =>
      val (host, ts) = (rnd.nextInt(6), T0 + rnd.nextInt(2) * D + rnd.nextInt(24) * H)
      ("eq.g", host, if (i % 2 == 0) ts else ts + 7 * 60000L, rnd.nextInt(1000).toLong)
    }))
    val marks = st.oooMarks.as[(String, Long)].collect()
    assert(marks.map(_._2).toSet === Set(T0, T0 + D), marks.toSeq)

    val funcs = Seq("avg", "sum", "count", "min", "max", "dev", "first", "last", "p50", "p90", "p99")
    val fills = Seq("", "-zero", "-nan", "-null")
    val aggs = Seq("none", "sum", "avg", "count", "min", "max", "dev", "first", "last",
      "p95", "top2", "bottom3")
    val tagSets = Seq(Map.empty[String, String], Map("host" -> "*"), Map("dc" -> "*"),
      Map("dc" -> "east"), Map("host" -> "literal_or(h1|h4)"))
    val queries = (0 until 44).map { i =>
      val interval = Seq("30m", "1h", "2h", "6h", "1d", "0all")(rnd.nextInt(6))
      val fill = if (interval == "0all") "" else fills(i / 11)
      val tags = tagSets(i % tagSets.size)
      val rate = i % 4 == 3
      val from = T0 + rnd.nextInt(30) * H + rnd.nextInt(60) * 60000L
      TsQuery(from, from + (6 + rnd.nextInt(40)) * H, msResolution = true, Seq(SubQuery(
        metric = if (rate) "eq.c" else "eq.g",
        aggregator = aggs(i % aggs.size),
        downsample = Some(s"$interval-${funcs(i % funcs.size)}$fill"),
        rate = rate,
        rateOptions = RateOptions(counter = rate, dropResets = i % 8 == 3),
        tags = tags,
        groupByTags = tags.keys.toSeq.sorted)))
    }
    /** What a sub-query exercises, for the coverage check below. */
    def features(sub: SubQuery): Set[String] = {
      val ds = graft.query.Downsample.parse(sub.downsample.get)
      Set(s"fn ${ds.func}", s"fill ${ds.fill}",
        if (Rollup.route(Some(ds), RollupUsage.FallbackRaw).isEmpty) "raw" else "routed") ++
        Some("dropResets").filter(_ => sub.rateOptions.dropResets) ++
        Some("topN/bottomN").filter(_ => sub.aggregator.matches("(top|bottom)\\d")) ++
        Some("group-by").filter(_ => sub.groupByTags.nonEmpty)
    }

    val integral = """-?\d+\.0(?![0-9])|"NaN"|"Inf"""".r
    val number = """-?\d+\.\d+|"NaN"|"Inf"""".r
    val covered = queries.flatMap { q =>
      def json(small: Boolean) = QueryApi.executeQuery(QueryApi.storeFrame(st, q), q,
        st.plannerOptions(), QueryApi.DefaultMaxDps, force = Some(small))
      val (one, parallel) = (json(true), json(false))
      assert(rounded(one) === rounded(parallel), q)
      // integer-valued answers are order-free: they match bit for bit
      val values = number.findAllIn(parallel).toSeq
      if (values.forall(v => integral.pattern.matcher(v).matches)) assert(one === parallel, q)
      if (parallel.contains("\"dps\":{\"")) features(q.subQueries.head) else Set.empty[String]
    }.toSet
    // every feature is covered by an answer that holds points
    val wanted = funcs.map(f => s"fn $f") ++
      Seq(FillPolicy.None, FillPolicy.Zero, FillPolicy.NaN, FillPolicy.Null).map(f => s"fill $f") ++
      Seq("raw", "routed", "dropResets", "topN/bottomN", "group-by")
    assert(wanted.toSet -- covered === Set.empty)
  }

  test("store query plan: the series key is read, never derived above the scan") {
    val st = servedStore("store_plan")
    servedQueries.foreach { q =>
      val sub = q.subQueries.head
      val plan = Planner.planRouted(QueryApi.storeFrame(st, q), q, sub,
        st.plannerOptions()).queryExecution.executedPlan.toString
      assert(!plan.contains("map_entries"), s"skey derived per row:\n$plan")
    }
  }

  // a different file layout may sum a group's doubles in another order
  private def rounded(json: String): String =
    """-?\d+\.\d+""".r.replaceAllIn(json,
      m => BigDecimal(m.matched).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString)

  test("a store whose data files lack skey answers identically") {
    val keyed = servedStore("store_keyed")
    val legacy = servedStore("store_legacy")
    val root = legacy.dataLocation
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rewrite every committed data file the way an earlier store wrote
    // it: no skey column, no `.sk` name suffix — manifest included
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(_.getPath.getName.startsWith("date="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .map(_.getPath).filter(_.getName.endsWith(".sk.parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val tmp = s"$root/.rewrite_${f.getName}"
      spark.read.parquet(f.toString).drop("skey").coalesce(1)
        .write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new org.apache.hadoop.fs.Path(f.getParent,
        f.getName.stripSuffix(".sk.parquet") + ".parquet"))
      fs.delete(f, false)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath)
      .filter(_.getName.startsWith("manifest.")).foreach { m =>
        val in = fs.open(m)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val out = fs.create(m, true)
        try out.write(text.replace(".sk.parquet", ".parquet").getBytes("UTF-8"))
        finally out.close()
      }
    // the legacy scan derives the key, so the comparison exercises it (a
    // routed query without marks on its series reads no raw data at all)
    assert(servedQueries.exists(q => Planner.planRouted(QueryApi.storeFrame(legacy, q),
      q, q.subQueries.head, legacy.plannerOptions())
      .queryExecution.executedPlan.toString.contains("map_entries")))
    servedQueries.foreach(q =>
      assert(rounded(QueryApi.runQuery(legacy, q)) === rounded(QueryApi.runQuery(keyed, q))))
    // compaction rewrites a legacy day with the key stored
    legacy.compactDay("2024-01-05")
    servedQueries.foreach(q =>
      assert(rounded(QueryApi.runQuery(legacy, q)) === rounded(QueryApi.runQuery(keyed, q))))
  }

  test("a series first seen in put N is in the next query, with its aggregateTags") {
    val root = java.nio.file.Files.createTempDirectory("store_new_series").toString
    val st = new Store(spark, root)
    def put(rows: (String, String, Double, Long)*) =
      st.ingest(spark.createDataset(rows.map { case (h, dc, v, q) =>
        Dp("ns.m", Map("host" -> h, "dc" -> dc), T0, v, q)
      }).toDF())
    val q = QueryApi.parseRequest(
      """{"start":1704412800,"end":1704416400,"queries":[
        |{"metric":"ns.m","aggregator":"sum"}]}""".stripMargin)
    put(("a", "east", 1.0, 1L), ("b", "east", 2.0, 2L))
    assert(QueryApi.runQuery(st, q) ===
      """[{"metric":"ns.m","tags":{"dc":"east"},"aggregateTags":["host"],""" +
        """"dps":{"1704412800":3.0}}]""")
    put(("c", "west", 4.0, 3L))
    assert(QueryApi.runQuery(st, q) ===
      """[{"metric":"ns.m","tags":{},"aggregateTags":["dc","host"],""" +
        """"dps":{"1704412800":7.0}}]""")
  }

  /** Rows as comparable values, doubles by their exact decimal form. */
  private def exactRows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => d.toString
      case x => x
    }).toSet

  /** [[exactRows]] with finite doubles rounded to 9 decimals, for
    * rollups whose deltas merge in another order than the truth's.
    */
  private def roundedRows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double if !d.isNaN && !d.isInfinite =>
        BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      case d: Double => d.toString
      case x => x
    }).toSet

  /** Deltas per day in a metadata table's newest manifest. */
  private def deltasPerDay(root: String, table: String): Map[String, Int] = {
    val dir = new java.io.File(s"$root/$table")
    val newest = dir.list().filter(_.startsWith("manifest."))
      .maxBy(_.stripPrefix("manifest.").toLong)
    val src = scala.io.Source.fromFile(new java.io.File(dir, newest), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.takeWhile(_ != '\t')).toSeq
      .groupBy(identity).map { case (d, ls) => d -> ls.size }
    finally src.close()
  }

  private val propQueries = Seq(
    // routed to rollup_1h, per series
    """{"start":1704412800,"end":1704585599,"queries":[{"metric":"p.m",
      |"aggregator":"none","downsample":"1h-avg"}]}""",
    // routed to rollup_1d, summed across hosts
    """{"start":1704412800,"end":1704585599,"queries":[{"metric":"p.m",
      |"aggregator":"sum","downsample":"1d-max"}]}""")
    .map(b => QueryApi.parseRequest(b.stripMargin))

  test("seeded: N puts answer as one ingest, before and after compactDay folds the deltas") {
    Seq(7L, 19L, 31L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      var seq = 0L
      def next() = { seq += 1; seq }
      // five puts over two days: hosts a and b land anywhere on a
      // half-hour grid (late points, rewritten timestamps, some NaN and
      // ±Inf); host c is in order and clean; host d first appears in put
      // 3; the tagless series moves back an hour a put (late across puts);
      // hosts z and zn hold 0.0 and -0.0 in one hour, in both orders
      val puts = (0 until 5).map { b =>
        val messy = (0 until 8).map { _ =>
          val ts = T0 + rnd.nextInt(2) * D + rnd.nextInt(48) * 30 * 60000L
          val v = rnd.nextInt(24) match {
            case 0 | 1 => Double.NaN
            case 2 => Double.PositiveInfinity
            case 3 => Double.NegativeInfinity
            case _ => rnd.nextInt(1000) / 10.0
          }
          (Seq("a", "b")(rnd.nextInt(2)), ts, v, next())
        }
        val inOrder = (0 until 4).map(j =>
          ("c", T0 + (b * 4 + j) * 2 * H + 60000L, rnd.nextInt(1000) / 10.0, next()))
        val fresh = if (b < 2) Nil else Seq(("d", T0 + b * 9 * H, b.toDouble, next()))
        val tagless = ("", T0 + (5 - b) * H + 120000L, rnd.nextInt(1000) / 10.0, next())
        val zeros = Seq(("z", 0.0, -0.0), ("zn", -0.0, 0.0)).flatMap { case (h, x, y) =>
          Seq((h, T0 + b * H + 60000L, x, next()), (h, T0 + b * H + 120000L, y, next()))
        }
        messy ++ inOrder ++ fresh ++ zeros :+ tagless
      }
      // host "" is the tagless series
      def points(rows: Seq[(String, Long, Double, Long)]) = rows.map { case (h, ts, v, q) =>
        Dp("p.m", if (h.isEmpty) Map.empty[String, String] else Map("host" -> h), ts, v, q)
      }
      def dp(rows: Seq[(String, Long, Double, Long)]) = spark.createDataset(points(rows)).toDF()
      def mkStore(name: String) = {
        val root = java.nio.file.Files.createTempDirectory(name).toString
        (root, new Store(spark, root, compactEveryBatches = 0))
      }
      val (rootN, byPut) = mkStore(s"store_prop_n$seed")
      puts.foreach(p => byPut.ingest(dp(p)))
      // the same puts as batches already on the driver
      val (rootS, bySeq) = mkStore(s"store_prop_s$seed")
      puts.foreach(p => bySeq.ingest(points(p)))
      val (_, once) = mkStore(s"store_prop_1$seed")
      once.ingest(dp(puts.flatten))

      def marks(st: Store) = st.oooMarks.as[(String, Long)].collect().toSet
      def answers(st: Store) = propQueries.map(q => rounded(QueryApi.runQuery(st, q)))
      def views(st: Store) = (exactRows(st.rollup1h), exactRows(st.rollup1d), answers(st))
      val truthMarks = Rollup.oooSlices(dp(puts.flatten)).as[(String, Long)].collect().toSet
      // the data exercises both halves of a routed answer
      assert(truthMarks.nonEmpty && !truthMarks.exists(_._1 == "p.m,host=c"), s"seed $seed")
      assert(truthMarks.contains(("p.m", T0)), s"seed $seed")
      Seq(rootN, rootS).foreach(r => assert(deltasPerDay(r, "rollup_1h").values.forall(_ > 1)))

      val before = views(byPut)
      assert(marks(byPut) === truthMarks, s"seed $seed")
      assert(marks(once) === truthMarks, s"seed $seed")
      assert(roundedRows(byPut.rollup1h) === roundedRows(once.rollup1h), s"seed $seed")
      assert(roundedRows(byPut.rollup1d) === roundedRows(once.rollup1d), s"seed $seed")
      assert(before._3 === answers(once), s"seed $seed")
      // both ingest forms run one partials kernel: the views keep their bits
      assert(marks(bySeq) === truthMarks, s"seed $seed")
      assert(views(bySeq) === before, s"seed $seed")
      assert(exactRows(bySeq.seriesIndex) === exactRows(byPut.seriesIndex), s"seed $seed")
      assert(exactRows(bySeq.data) === exactRows(byPut.data), s"seed $seed")
      // as Spark's min and max, an hour's min and max keep the first of
      // two equal zeros
      Seq(byPut, bySeq, once).foreach(st => Seq(st.rollup1h, st.rollup1d).foreach { v =>
        val zeros = exactRows(v.filter(col("skey").startsWith("p.m,host=z"))
          .select(col("skey"), col("min"), col("max")))
        assert(zeros === Set(Seq("p.m,host=z", "0.0", "0.0"),
          Seq("p.m,host=zn", "-0.0", "-0.0")), s"seed $seed")
      })

      Seq(byPut, bySeq).foreach(st => Seq("2024-01-05", "2024-01-06").foreach(st.compactDay(_)))
      Seq(rootN, rootS).foreach(r => Seq("slice_state", "rollup_1h", "rollup_1d").foreach(t =>
        assert(deltasPerDay(r, t).values.forall(_ == 1), s"$t seed $seed")))
      Seq(byPut, bySeq).foreach { st =>
        assert(marks(st) === truthMarks, s"seed $seed")
        // the fold adds sums in commit order: the merged views keep their bits
        assert(views(st) === before, s"seed $seed")
      }
      // and a fresh catalog loaded from the folded files agrees
      Seq(rootN, rootS).foreach { r =>
        val reopened = new Store(spark, r, compactEveryBatches = 0)
        assert(marks(reopened) === truthMarks && answers(reopened) === before._3, s"seed $seed")
      }
    }
  }

  /** Rewrite a store's metadata files the way the previous layout wrote
    * them: one unioned write holding every metadata table's columns,
    * null where a table has none. Its day dirs keep their names.
    */
  private def toUnionedLayout(root: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val unionCols = Seq("skey" -> "string", "hwm" -> "bigint", "ooo" -> "boolean",
      "cnt" -> "bigint", "min" -> "double", "max" -> "double", "sum" -> "double",
      "wts" -> "bigint", "metric" -> "string", "tags" -> "map<string,string>",
      "day" -> "bigint")
    def widened(path: Path, tmp: String): Unit = {
      val df = spark.read.parquet(path.toString)
      df.select(unionCols.map { case (c, t) =>
        (if (df.columns.contains(c)) col(c) else lit(null)).cast(t).as(c)
      }: _*).coalesce(1).write.parquet(tmp)
    }
    Seq("slice_state", "rollup_1h", "rollup_1d").foreach { t =>
      fs.listStatus(new Path(s"$root/$t")).map(_.getPath)
        .filter(_.getName.startsWith("d_")).foreach { d =>
          val tmp = s"$root/.unioned_${d.getName}"
          widened(d, tmp)
          fs.delete(d, true)
          fs.rename(new Path(tmp), d)
        }
    }
    fs.listStatus(new Path(s"$root/series_index")).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".")).foreach { f =>
        val tmp = s"$root/.unioned_${f.getName}"
        widened(f, tmp)
        val part = fs.listStatus(new Path(tmp)).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        fs.delete(f, false)
        fs.rename(part, f)
        fs.delete(new Path(tmp), true)
      }
  }

  test("a store in the one-generation-per-day unioned layout answers identically, before and after its next put") {
    val ref = servedStore("store_ref")
    val old = servedStore("store_unioned")
    Seq("2024-01-05", "2024-01-06").foreach(old.compactDay(_))
    val root = new java.io.File(old.dataLocation).getParent
    toUnionedLayout(root)
    Seq("slice_state", "rollup_1h", "rollup_1d").foreach(t =>
      assert(deltasPerDay(root, t).values.forall(_ == 1), t))
    val reopened = new Store(spark, root, compactEveryBatches = 0)
    def same(): Unit = {
      assert(reopened.oooMarks.collect().toSet === ref.oooMarks.collect().toSet)
      assert(reopened.seriesIndex.collect().toSet === ref.seriesIndex.collect().toSet)
      assert(roundedRows(reopened.rollup1h) === roundedRows(ref.rollup1h))
      assert(roundedRows(reopened.rollup1d) === roundedRows(ref.rollup1d))
      servedQueries.foreach(q =>
        assert(rounded(QueryApi.runQuery(reopened, q)) === rounded(QueryApi.runQuery(ref, q))))
    }
    same()
    // a late point on a clean slice, and a new series
    val next = Seq(("b", "east", T0 + 7 * H, 5.0, 2000L), ("d", "west", T0 + 40 * H, 1.0, 2001L))
    Seq(reopened, ref).foreach(_.ingest(srvDp(next)))
    assert(ref.oooMarks.as[(String, Long)].collect().contains(("srv.m,dc=east,host=b", T0)))
    same()
  }

  test("a put runs only its append and slice collect; the catalog is current after it with no job") {
    val st = servedStore("store_catalog")
    val put = jobSites(st.ingest(srvDp(Seq(("b", "east", T0 + 7 * H, 5.0, 2000L),
      ("d", "west", T0 + 40 * H, 1.0, 2001L)))))
    assert(put.nonEmpty)
    put.foreach(site => assert(
      site.contains("Store.appendData") || site.contains("Store.computeSliceState"),
      s"a put ran a job outside its append and slice collect:\n$site"))
    var index = Set.empty[String]
    var marks = Set.empty[(String, Long)]
    val reads = jobSites {
      index = st.seriesIndex.collect().map(_.getString(0)).toSet
      marks = st.oooMarks.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    assert(reads.isEmpty, reads.mkString("\n---\n"))
    assert(index.contains("srv.m,dc=west,host=d"))
    assert(marks.contains(("srv.m,dc=east,host=b", T0)))
  }

  test("a put to a day older than the resident week reads its state in one job: late points still mark") {
    val root = java.nio.file.Files.createTempDirectory("store_resident").toString
    val st = new Store(spark, root, compactEveryBatches = 0)
    val old = Seq(("a", "east", T0 + 10 * H, 1.0, 1L), ("a", "east", T0 + 11 * H, 2.0, 2L),
      ("e", "east", T0 + 12 * H, 3.0, 3L))
    // ten days later: the newest day moves, and T0 leaves the resident week
    val newer = Seq(("a", "east", T0 + 10 * D + H, 4.0, 4L))
    // late on T0 for a, earlier than e's hwm for e
    val late = Seq(("a", "east", T0 + 10 * H + 30 * 60000L, 5.0, 5L))
    val later = Seq(("e", "east", T0 + 9 * H, 6.0, 6L))
    def metaJobs(f: => Unit) = jobSites(f).count(_.contains("Store.commitMetadata"))
    def marks(s: Store) = s.oooMarks.as[(String, Long)].collect().toSet
    assert(metaJobs(st.ingest(srvDp(old))) === 0)
    assert(metaJobs(st.ingest(srvDp(newer))) === 0)
    assert(metaJobs(st.ingest(srvDp(late))) === 1)
    assert(marks(st) === Set(("srv.m,dc=east,host=a", T0)))
    // the fold writes the old day's whole state, and a fresh catalog reads it
    st.compactDay("2024-01-05")
    assert(deltasPerDay(root, "slice_state")(T0.toString) === 1)
    val reopened = new Store(spark, root, compactEveryBatches = 0)
    assert(marks(reopened) === marks(st))
    reopened.ingest(srvDp(later))
    val all = srvDp(old ++ newer ++ late ++ later)
    assert(marks(reopened) === Rollup.oooSlices(all).as[(String, Long)].collect().toSet)
    assert(marks(reopened) === Set(("srv.m,dc=east,host=a", T0), ("srv.m,dc=east,host=e", T0)))
  }
}
