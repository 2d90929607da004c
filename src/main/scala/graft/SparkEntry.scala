package graft

import graft.functions.GraftFunctions.{quant4, round4}
import graft.model.{DpView, RateOptions, SubQuery, TsQuery}
import graft.query.{Meta, Planner, TimeParse}
import graft.rollup.Rollup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one [[Gate]] (Spark builder + DuckDB oracle SQL) per
  * implemented operator from SURVEY.md §2, all running against the
  * driver-provided tables (TESTDATA.md). The TSDB-shaped queries run on the
  * dp view over `events` (see [[graft.model.DpView.dp]]). Adding a gate
  * means adding one `Gate` value to one of three lists: `tsdbGates` here,
  * [[PipelineQueries.gates]] or [[SeriesAnalytics.gates]].
  *
  * Convention: every query orders its output totally and rounds derived
  * doubles to 4 decimals on BOTH sides, so the driver's column-sorted
  * value-hash comparison is deterministic across engines.
  */
object SparkEntry {

  // Fixed, deterministic query window inside the events data range
  // (2024-01-01 .. 2024-01-30 UTC).
  private[graft] val T0 = 1704412800000L // 2024-01-05 00:00:00 UTC
  private[graft] val T1 = 1705017600000L // 2024-01-12 00:00:00 UTC
  private[graft] val HOUR = 3600000L
  private[graft] val M90 = 5400000L
  private[graft] val SIXH = 21600000L
  private[graft] val DAY = 86400000L

  /** DuckDB CTE reconstructing the dp view + canonical series key from
    * `events` — the oracle-side twin of [[graft.model.DpView.dp]] and
    * [[graft.model.Dp.seriesKey]] (tag keys sorted: dc < host < od).
    */
  private[graft] val dpCte: String =
    """WITH dp AS (
      |  SELECT event_type AS metric,
      |         'host' || CAST(user_id % 5 AS VARCHAR) AS host,
      |         'dc'   || CAST(user_id % 2 AS VARCHAR) AS dc,
      |         (user_id % 3 = 0) AS has_od,
      |         event_type || ',dc=dc' || CAST(user_id % 2 AS VARCHAR)
      |           || ',host=host' || CAST(user_id % 5 AS VARCHAR)
      |           || CASE WHEN user_id % 3 = 0 THEN ',od=od0' ELSE '' END AS skey,
      |         epoch_ms(ts) AS ts,
      |         value,
      |         event_id AS seq
      |  FROM events)""".stripMargin

  /** Scan-range end expansion for a downsampled query (see
    * Planner: end - end%i + i - 1).
    */
  private def scanEnd(endMs: Long, intervalMs: Long): Long =
    endMs - math.floorMod(endMs, intervalMs) + intervalMs - 1

  /** The oracle side of [[graft.functions.GraftFunctions.round4]]: SQL
    * that rounds `e` to 4 decimals. */
  private[graft] def sroundSql(e: String): String =
    s"floor(($e) * 10000 + 0.5 + 1e-6) / 10000.0"

  /** The oracle side of [[graft.functions.GraftFunctions.quant4]]. */
  private[graft] def quantSql(e: String): String =
    s"CAST(floor(($e) * 10000 + 0.5 + 1e-6) AS BIGINT)"

  private def out(df: DataFrame): DataFrame = {
    val o = df.select(col("skey"), expr("ts div 1000").as("ts"),
      round4(col("value")).as("value"))
    o.orderBy("skey", "ts", "value")
  }

  /** Build the two-batch maintained store (base + late duplicates) used
    * by the routed gates — the same data shape as `q_rollup_fallback`'s
    * CTE truth.
    */
  private def buildMaintainedStore(s: SparkSession, dir: String,
      withLate: Boolean = true,
      at: Option[String] = None): graft.store.Store = {
    val d = DpView.dp(s, dir)
      .filter(col("metric") === "error" &&
        col("ts").between(T0, scanEnd(T1, SIXH)))
    val late = d.filter(col("seq") % 5 === 0)
      .withColumn("value", col("value") + 0.5)
      .withColumn("seq", col("seq") + 10000000L)
    // throwaway fixture: tmpfs-preferred + exit-reclaimed (GateScratch)
    // so the benched ingest prices the machinery (Spark jobs + manifest
    // commits), not /tmp's disk — the gate's numbers otherwise swing
    // multi-second with page-cache state
    val st = new graft.store.Store(s,
      at.getOrElse(GateScratch.root("graft_store_gate")))
    st.ingest(d)
    if (withLate) st.ingest(late)
    st
  }

  // unique memory-sink names for the streaming replay gate (the bench
  // invokes a gate several times in one session)
  private val streamGateSeq = new java.util.concurrent.atomic.AtomicLong()
  // the sessionize replay's OWN sequence: its sink cleanup keeps the
  // current dir and its immediate predecessor, and that invariant only
  // holds if no other streaming gate can advance the counter in between
  private val sessGateSeq = new java.util.concurrent.atomic.AtomicLong()

  private def rmTree(p: java.nio.file.Path): Unit = GateScratch.rmTree(p)

  /** Streaming state partitions sized from the input's bytes on disk —
    * the √n-sizing discipline applied to state partitioning. Calibrated
    * against the measured sessionize A/B knee (8 parts win ≤ sf1 where
    * events.parquet is ≤ ~20 MiB, 16 win at sf10's ~200 MiB):
    * `clamp(pow2floor(√(KiB)/16), 8, 64)`. Keyed-state work per
    * partition then grows ~√input instead of linearly, while per-batch
    * state-store fixed cost (one provider per partition per batch) only
    * ever doubles per QUADRUPLING of the input. Plan-invisible to the
    * oracle.
    */
  private[graft] def autoSessParts(dir: String): Int = {
    val raw = math.sqrt(eventsBytes(dir) / 1024.0) / 16.0
    val p2 = java.lang.Integer.highestOneBit(math.max(1, raw.toInt))
    math.min(64, math.max(8, p2))
  }

  /** The streaming-join replays' state-partition twin of
    * [[autoSessParts]], with a floor of ONE: their keyed state (open
    * join windows per user) is far smaller than sessionize's, and the
    * measured small-state rule holds — per-batch state-store fixed cost
    * dominates up to sf1, where 1 partition stays best, while at sf10
    * the micro-batch stages serialize on that one task (measured 3–6 s
    * single-task stages inside `q_interval_stream`). Curve
    * `clamp(pow2floor(√(KiB)/32), 1, 64)` keeps 1 through sf0.1 and
    * lands 4/8 at sf1/sf10 (A/B'd in SCALING.md — 8 wins ~2× at sf10,
    * 1 stays within noise of 4 at sf1).
    */
  private[graft] def autoJoinParts(dir: String): Int = {
    val raw = math.sqrt(eventsBytes(dir) / 1024.0) / 32.0
    val p2 = java.lang.Integer.highestOneBit(math.max(1, raw.toInt))
    math.min(64, p2)
  }

  /** Bytes on disk of `dir`/events.parquet (file or directory).
    * Recursive: a hive-partitioned layout nests its part files, and a
    * top-level-only sum would undercount it to near zero, collapsing
    * [[autoSessParts]]/[[autoJoinParts]] to their floors.
    */
  private def eventsBytes(dir: String): Long =
    try {
      val p = java.nio.file.Paths.get(dir, "events.parquet")
      if (!java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.size(p)
      else {
        val ws = java.nio.file.Files.walk(p)
        try {
          val b = List.newBuilder[java.nio.file.Path]
          ws.forEach(b += _)
          b.result().filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally ws.close()
      }
    } catch {
      // Files.walk wraps traversal errors (entry deleted mid-walk by a
      // concurrent writer, unreadable subdir) in UncheckedIOException —
      // both degrade to the 0-bytes floor, never a crash
      case _: java.io.IOException => 0L
      case _: java.io.UncheckedIOException => 0L
    }

  /** Per-process scratch root for file-source replay batches and sinks,
    * tmpfs-preferred, reclaimed at exit ([[GateScratch]]). Invocations
    * write under unique subdirs (a prior invocation's sink may still
    * back a lazily-consumed result).
    */
  private lazy val replayGateRoot: String = GateScratch.root("graft_replay_gate")

  /** Drive a streaming replay to completion: memory sink `qn`, tmpfs
    * checkpoint, and a LOW shuffle-partition count for the replay's
    * duration — a stateful micro-batch pays per-partition state-store
    * overhead regardless of rows, so 32 partitions × N batches is pure
    * fixed cost for a bounded replay (measured 22 s → ~4 s at sf0.1).
    * `batches` yields one closure per micro-batch of addData calls;
    * each is followed by processAllAvailable.
    */
  private def runReplay(s: SparkSession, out: DataFrame, qn: String,
      outputMode: String = "append", partitions: Int = 1,
      sinkPath: Option[String] = None)(
      batches: () => Seq[() => Unit]): Unit = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val ckpt = GateScratch.tempDir("graft_replay_ckpt") // deleted inline below
    // 1 partition is the measured default (per-batch fixed cost dominates
    // the small-state replays); heavy keyed-state gates override it so
    // state-store work parallelizes (q_sessionize_stream's A/B, r13)
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // every processAllAvailable otherwise appends a NO-DATA micro-batch
    // for watermark bookkeeping — doubling the per-batch fixed cost of a
    // bounded replay. The replays don't need them: joins emit on data,
    // and the as-of flush rows are DATA batches that both advance the
    // watermark and fire the event-time timeouts (measured: 2.9 s →
    // 1.6 s per gate, byte-identical emitted set).
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      // parquet sink when the replay's OUTPUT is corpus-sized (the
      // memory sink funnels every emitted row into the driver); memory
      // sink otherwise — reading the result back needs no table scan
      val w0 = out.writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode(outputMode)
      val q = sinkPath match {
        case Some(p) => w0.format("parquet").option("path", p).start()
        case None => w0.format("memory").queryName(qn).start()
      }
      try batches().foreach { b => b(); q.processAllAvailable() }
      finally q.stop()
    } finally {
      // release every cached state-store provider: a stopped query's
      // providers stay in the executor-global loaded-provider cache
      // holding their last in-memory state maps until a maintenance
      // sweep, and each replay here uses a fresh checkpoint so they can
      // never be reused. For the corpus-sized session state this is
      // gigabytes of dead heap — measured at sf10, the SECOND
      // q_sessionize_stream invocation in a JVM ran 208 s vs 42 s cold,
      // all of it GC thrash from the first invocation's retained state.
      try org.apache.spark.sql.GraftSqlBridge.unloadAllStateStores()
      catch { case _: Throwable => () } // never skip the conf restore
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      try rmTree(ckpt) catch { case _: java.io.IOException => () }
    }
  }

  // memoized per source dir: q_routed_maintained times the routed query,
  // not the fixture's two full ingests (those are q_store_ingest's job).
  // Two layers with different lifetimes — the INGESTED store root is
  // per dir (all store state is on-disk behind the manifest protocol,
  // built once per JVM), while a Store HANDLE holds the SparkSession
  // that opens it, so handles memoize per (session, dir) with
  // stopped-session entries evicted: a dir-keyed handle memo would give
  // a second fresh session a store bound to a stopped one (the same
  // stale-state class PipelineQueries.incrIndexFixture fixed in r16).
  private val storeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private val storeHandles =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), graft.store.Store]
  private def storeFixture(s: SparkSession, dir: String): graft.store.Store = {
    storeHandles.keySet.removeIf { case (sess, _) =>
      sess.sparkContext.isStopped
    }
    storeHandles.computeIfAbsent((s, dir), _ => {
      var built: graft.store.Store = null
      val root = storeRoots.computeIfAbsent(dir, _ => {
        val r = GateScratch.root("graft_store_gate")
        built = buildMaintainedStore(s, dir, at = Some(r))
        r
      })
      // first resolver in this JVM keeps the handle that ingested;
      // later sessions re-open the durable root (a fresh manifest
      // resolve — the store's normal reader path)
      if (built != null) built else new graft.store.Store(s, root)
    })
  }

  // ---------------------------------------------------------------- Spark

  def entry(spark: SparkSession): DataFrame = {
    val dp = DpView.dp(spark, "/root/testdata/sf0.001")
    Planner.planSub(
      dp,
      TsQuery(T0, T1),
      SubQuery(
        metric = "click",
        aggregator = "sum",
        downsample = Some("1h-avg"),
        tags = Map("host" -> "*"),
        groupByTags = Seq("host")))
  }

  /** §2.5 per-series 1h downsample, one query per function. */
  private val dsFuncs =
    Seq("avg", "sum", "count", "min", "max", "dev", "first", "last", "p50", "p90", "p99")

  /** §2.6 cross-series aggregation by host tag after 1h-avg. first/last
    * pick the first/last series' value in canonical skey order.
    */
  private val crossFuncs =
    Seq("sum", "avg", "count", "dev", "min", "max", "p95", "first", "last")

  private def dsQuery(fn: String)(s: SparkSession, dir: String): DataFrame =
    out(Planner.planSub(
      DpView.dp(s, dir),
      TsQuery(T0, T1),
      SubQuery(metric = "view", aggregator = "none", downsample = Some(s"1h-$fn"))))

  private def crossQuery(fn: String)(s: SparkSession, dir: String): DataFrame = {
    val df = Planner.planSub(
      DpView.dp(s, dir),
      TsQuery(T0, T1),
      SubQuery(
        metric = "click",
        aggregator = fn,
        downsample = Some("1h-avg"),
        tags = Map("host" -> "*"),
        groupByTags = Seq("host")))
    df.select(col("tag_host"), expr("ts div 1000").as("ts"),
        round4(col("value")).as("value"))
      .orderBy("tag_host", "ts")
  }

  /** `q_agg_first`/`q_agg_last` with the per-metric series index
    * attached (r17): same query, same result, but the planner orders
    * first/last by each series' numeric rank in the index's resolved key
    * set, so the cross-series aggregation is a map-side-combinable
    * HashAggregate instead of the string-ordered SortAggregate — the
    * plan an installation with a MAINTAINED index gets. Like
    * q_index_scan, the gate derives the index here (Meta.seriesTable) so
    * the fixture stays honest about what the index costs when it is NOT
    * maintained; the planner reads it once, in the driver-side key
    * resolution.
    */
  private def crossQueryIndexed(fn: String)(s: SparkSession, dir: String): DataFrame = {
    val d = DpView.dp(s, dir)
    val index = graft.query.Meta.seriesTable(d.filter(col("metric") === "click"))
    val df = Planner.planSub(
      d,
      TsQuery(T0, T1),
      SubQuery(
        metric = "click",
        aggregator = fn,
        downsample = Some("1h-avg"),
        tags = Map("host" -> "*"),
        groupByTags = Seq("host")),
      Planner.Options(seriesIndex = Some(index)))
    df.select(col("tag_host"), expr("ts div 1000").as("ts"),
        round4(col("value")).as("value"))
      .orderBy("tag_host", "ts")
  }

  /** Every gate: the TSDB query gates of this object, then
    * [[PipelineQueries.gates]] and [[SeriesAnalytics.gates]].
    */
  lazy val gates: Seq[Gate] = tsdbGates ++ PipelineQueries.gates ++ SeriesAnalytics.gates

  /** Each gate's builder, by gate name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  // --------------------------------------------------------------- oracle

  /** DuckDB aggregate expression per downsample/cross-series function. */
  private def sqlAgg(fn: String, v: String = "value", ts: String = "ts"): String = fn match {
    case "avg" => s"avg($v)"
    case "sum" => s"sum($v)"
    case "count" => s"CAST(count($v) AS DOUBLE)"
    case "min" => s"min($v)"
    case "max" => s"max($v)"
    case "dev" => s"stddev_pop($v)"
    case "first" => s"arg_min($v, $ts)"
    case "last" => s"arg_max($v, $ts)"
    case other => throw new IllegalArgumentException(other)
  }

  /** R-6 exact percentile over a sorted DuckDB list column `l` — the SQL
    * twin of [[graft.functions.GraftFunctions.exactPercentile]].
    */
  private def r6Sql(pRaw: Double): String = {
    val p = graft.functions.GraftFunctions.normalizeQuantile(pRaw)
    val idx = s"$p*(len(l)+1)"
    s"""CASE WHEN len(l) = 1 THEN l[1]
       |     WHEN $idx < 1 THEN l[1]
       |     WHEN $idx >= len(l) THEN l[len(l)]
       |     ELSE l[CAST(floor($idx) AS INT)]
       |          + ($idx - floor($idx))
       |            * (l[CAST(floor($idx) AS INT) + 1] - l[CAST(floor($idx) AS INT)])
       |END""".stripMargin
  }

  private def isPct(fn: String) = fn.startsWith("p") && fn.drop(1).forall(_.isDigit)

  /** Shared dedup CTE body (last-wins by seq at raw ts). */
  private def dedupCte(metric: String, where: String, lo: Long, hi: Long,
      extraCols: String = ""): String =
    s"""dedup AS (
       |  SELECT skey$extraCols, ts, arg_max(value, seq) AS value
       |  FROM dp
       |  WHERE metric = '$metric'$where AND ts BETWEEN $lo AND $hi
       |  GROUP BY skey$extraCols, ts)""".stripMargin

  private def dsOracle(fn: String): String = {
    val base = dpCte + ",\n" + dedupCte("view", "", T0, scanEnd(T1, HOUR))
    if (isPct(fn))
      base + ",\n" +
        s"""g AS (
           |  SELECT skey, ts - ts % $HOUR AS b, list(value ORDER BY value) AS l
           |  FROM dedup GROUP BY skey, ts - ts % $HOUR)
           |SELECT skey, b // 1000 AS ts, ${sroundSql(r6Sql(fn.drop(1).toDouble))} AS value
           |FROM g ORDER BY skey, ts, value""".stripMargin
    else
      base + "\n" +
        s"""SELECT skey, (ts - ts % $HOUR) // 1000 AS ts,
           |       ${sroundSql(sqlAgg(fn))} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $HOUR
           |ORDER BY skey, ts, value""".stripMargin
  }

  private def crossOracle(fn: String): String = {
    val base = dpCte + ",\n" +
      dedupCte("click", "", T0, scanEnd(T1, HOUR), extraCols = ", host") + ",\n" +
      s"""ds AS (
         |  SELECT skey, host, ts - ts % $HOUR AS b, avg(value) AS value
         |  FROM dedup GROUP BY skey, host, ts - ts % $HOUR)""".stripMargin
    if (isPct(fn))
      base + ",\n" +
        s"""g AS (
           |  SELECT host, b, list(value ORDER BY value) AS l
           |  FROM ds GROUP BY host, b)
           |SELECT host AS tag_host, b // 1000 AS ts, ${sroundSql(r6Sql(fn.drop(1).toDouble))} AS value
           |FROM g ORDER BY tag_host, ts""".stripMargin
    else {
      // first/last across series = first/last series in skey order
      val ord = if (fn == "first" || fn == "last") "skey" else "b"
      base + "\n" +
        s"""SELECT host AS tag_host, b // 1000 AS ts,
           |       ${sroundSql(sqlAgg(fn, ts = ord))} AS value
           |FROM ds
           |GROUP BY host, b
           |ORDER BY tag_host, ts""".stripMargin
    }
  }

  /** Per-series 1h-last + lag-rate CTE chain used by the counter-rate
    * oracles.
    */
  private def rateBase(metric: String): String =
    dpCte + ",\n" + dedupCte(metric, "", T0, scanEnd(T1, HOUR)) + ",\n" +
      s"""ds AS (
         |  SELECT skey, ts - ts % $HOUR AS b, arg_max(value, ts) AS v
         |  FROM dedup GROUP BY skey, ts - ts % $HOUR),
         |r AS (
         |  SELECT skey, b, v,
         |         lag(v) OVER (PARTITION BY skey ORDER BY b) AS v0,
         |         lag(b) OVER (PARTITION BY skey ORDER BY b) AS b0
         |  FROM ds)""".stripMargin

  // ---------------------------------------------------------------- gates

  /** §2.2 raw scan and §2.4 tag filters: one metric's points in the
    * query window, no aggregation. `where` is the oracle's twin of
    * `tags`, and `keyWhere` its predicate on the series key's shape (is
    * the `od` tag present).
    */
  private def rawScan(name: String, metric: String, tags: Map[String, String],
      where: String, keyWhere: Option[String] = None, explicitTags: Boolean = false,
      indexed: Boolean = false, start: Long = T0): Gate =
    Gate(name, { (s, dir) =>
      val d = DpView.dp(s, dir)
      // with an index the planner resolves the series on the driver; the
      // per-metric index, like the reference's per-metric Mapping, is
      // derived here (at scale it is maintained incrementally)
      val opt =
        if (indexed) Planner.Options(seriesIndex = Some(Meta.seriesTable(d.filter(col("metric") === metric))))
        else Planner.Options()
      out(Planner.planSub(d, TsQuery(start, T1),
        SubQuery(metric = metric, aggregator = "none", tags = tags, explicitTags = explicitTags),
        opt))
    },
      dpCte + "\n" +
        s"""SELECT skey, ts // 1000 AS ts, ${sroundSql("arg_max(value, seq)")} AS value
           |FROM dp
           |WHERE metric = '$metric' AND $where
           |  AND ${keyWhere.fold("")(_ + " AND ")}ts BETWEEN $T0 AND $T1
           |GROUP BY skey, ts
           |ORDER BY skey, ts, value""".stripMargin)

  private lazy val rawScans: Seq[Gate] = Seq(
    // §2.2 scan + §2.4 exact/literal_or filters + §2.7 dedup + §1.3
    // relative-time parsing ("7d-ago" of end == T0)
    rawScan("q_scan_range", "click", Map("host" -> "literal_or(host1|host3)"),
      "host IN ('host1','host3')", start = TimeParse.parse("7d-ago", nowMs = T1)),
    // §2.2 series-index scan: this source derives skey, so its scan keeps
    // the per-row tag predicates (same result as the plain predicate path)
    rawScan("q_index_scan", "click", Map("host" -> "literal_or(host1|host3)"),
      "host IN ('host1','host3')", indexed = true),
    // §2.4 regexp filter
    rawScan("q_filter_regexp", "signup", Map("host" -> "regexp(host[13])"),
      "regexp_matches(host, '^host[13]$')"),
    // §2.4 iliteral_or (case-insensitive literal set)
    rawScan("q_filter_iliteral", "signup", Map("host" -> "iliteral_or(HOST2|Host4)"),
      "lower(host) IN ('host2','host4')"),
    // §2.4 wildcard glob (prefix fast path)
    rawScan("q_filter_wildcard", "click", Map("dc" -> "wildcard(dc*)", "host" -> "host0"),
      "dc LIKE 'dc%' AND host = 'host0'"),
    // §2.4 legacy 1.x embedded-| alternation (no filter function)
    rawScan("q_filter_legacy", "view", Map("host" -> "host0|host4"),
      "host IN ('host0','host4')"),
    // §2.4 not_iliteral_or + bare-* (key exists)
    rawScan("q_filter_not_iliteral", "view",
      Map("host" -> "not_iliteral_or(HOST0|Host1)", "od" -> "*"),
      "lower(host) NOT IN ('host0','host1')", keyWhere = Some("has_od")),
    // §2.4 iwildcard + explicit_tags (series with exactly {host, dc})
    rawScan("q_filter_explicit", "purchase",
      Map("host" -> "iwildcard(HOST*)", "dc" -> "*"),
      "lower(host) LIKE 'host%'", keyWhere = Some("NOT has_od"), explicitTags = true))

  private lazy val tsdbGates: Seq[Gate] =
    dsFuncs.map(fn => Gate(s"q_ds_$fn", dsQuery(fn), dsOracle(fn))) ++
    crossFuncs.map(fn => Gate(s"q_agg_$fn", crossQuery(fn), crossOracle(fn))) ++
    // the series-indexed variants compute the identical result (the rank
    // proxy only changes the physical aggregation), so they share the
    // base gates' oracle SQL verbatim
    Seq("first", "last").map(fn =>
      Gate(s"q_agg_${fn}_indexed", crossQueryIndexed(fn), crossOracle(fn))) ++
    rawScans ++ Seq(
    // §2.5 0all — single bucket spanning the query range
    Gate("q_ds_0all_avg", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("0all-avg"))))
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, T1) + "\n" +
        s"""SELECT skey, ${T0 / 1000} AS ts, ${sroundSql("avg(value)")} AS value
           |FROM dedup GROUP BY skey
           |ORDER BY skey""".stripMargin),

    Gate("q_ds_0all_last", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("0all-last"))))
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, T1) + "\n" +
        s"""SELECT skey, ${T0 / 1000} AS ts, ${sroundSql("arg_max(value, ts)")} AS value
           |FROM dedup GROUP BY skey
           |ORDER BY skey""".stripMargin),

    // §2.5 gap fill: zero-filled 6h buckets
    Gate("q_fill_zero", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("6h-avg-zero"))))
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, scanEnd(T1, SIXH)) + ",\n" +
        s"""ds AS (
           |  SELECT skey, ts - ts % $SIXH AS b, avg(value) AS v
           |  FROM dedup GROUP BY skey, ts - ts % $SIXH),
           |spine AS (
           |  SELECT skey, unnest(generate_series($T0, $T1, $SIXH)) AS b
           |  FROM (SELECT DISTINCT skey FROM ds))
           |SELECT s.skey AS skey, s.b // 1000 AS ts,
           |       ${sroundSql("coalesce(d.v, 0.0)")} AS value
           |FROM spine s LEFT JOIN ds d ON s.skey = d.skey AND s.b = d.b
           |ORDER BY 1, 2, 3""".stripMargin),

    // §2.5 gap fill: null-filled 6h buckets (gap rows present, value NULL)
    Gate("q_fill_null", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("6h-avg-null"))))
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, scanEnd(T1, SIXH)) + ",\n" +
        s"""ds AS (
           |  SELECT skey, ts - ts % $SIXH AS b, avg(value) AS v
           |  FROM dedup GROUP BY skey, ts - ts % $SIXH),
           |spine AS (
           |  SELECT skey, unnest(generate_series($T0, $T1, $SIXH)) AS b
           |  FROM (SELECT DISTINCT skey FROM ds))
           |SELECT s.skey AS skey, s.b // 1000 AS ts,
           |       ${sroundSql("d.v")} AS value
           |FROM spine s LEFT JOIN ds d ON s.skey = d.skey AND s.b = d.b
           |ORDER BY 1, 2, 3""".stripMargin),

    // §2.5 gap fill: NaN-filled 6h buckets (FillPolicy.NaN,
    // query/Downsample.scala). NaN≠NaN defeats a hash oracle, so the
    // gate projects the filled NaN to a sentinel double (−1e9, via
    // nanvl) and the oracle CASEs its LEFT-JOIN NULL gaps to the same
    // sentinel — the planner's coalesce-to-NaN fill path is what's
    // under test, and a real bucket avg landing exactly on the
    // sentinel would render identically in both engines anyway.
    Gate("q_fill_nan", { (s, dir) =>
      // nanvl BEFORE out(): out's round4 floors to LONG, and NaN.toLong
      // is 0 — the sentinel must replace NaN ahead of that cast
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("6h-avg-nan")))
        .withColumn("value", nanvl(col("value"), lit(-1.0e9))))
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, scanEnd(T1, SIXH)) + ",\n" +
        s"""ds AS (
           |  SELECT skey, ts - ts % $SIXH AS b, avg(value) AS v
           |  FROM dedup GROUP BY skey, ts - ts % $SIXH),
           |spine AS (
           |  SELECT skey, unnest(generate_series($T0, $T1, $SIXH)) AS b
           |  FROM (SELECT DISTINCT skey FROM ds))
           |SELECT s.skey AS skey, s.b // 1000 AS ts,
           |       CASE WHEN d.v IS NULL THEN -1.0e9
           |            ELSE ${sroundSql("d.v")} END AS value
           |FROM spine s LEFT JOIN ds d ON s.skey = d.skey AND s.b = d.b
           |ORDER BY 1, 2, 3""".stripMargin),

    // §2.7 duplicate timestamps: latest ingested wins
    Gate("q_dedup_lastwins", { (s, dir) =>
      val d = DpView.dp(s, dir)
      val dup = d
        .withColumn("value", col("value") + 100)
        .withColumn("seq", col("seq") + 10000000L)
      out(Planner.planSub(
        d.unionByName(dup),
        TsQuery(T0, T0 + DAY),
        SubQuery(metric = "click", aggregator = "none")))
    },
      dpCte + ",\n" +
        s"""dup AS (
           |  SELECT skey, metric, ts, value, seq FROM dp
           |  UNION ALL
           |  SELECT skey, metric, ts, value + 100, seq + 10000000 FROM dp)
           |SELECT skey, ts // 1000 AS ts, ${sroundSql("arg_max(value, seq)")} AS value
           |FROM dup
           |WHERE metric = 'click' AND ts BETWEEN $T0 AND ${T0 + DAY}
           |GROUP BY skey, ts
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.8 rate after cross-series sum
    Gate("q_rate", { (s, dir) =>
      val df = Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(
          metric = "click",
          aggregator = "sum",
          downsample = Some("1h-avg"),
          tags = Map("host" -> "*"),
          groupByTags = Seq("host"),
          rate = true))
      df.select(col("tag_host"), expr("ts div 1000").as("ts"),
          round4(col("value")).as("value"))
        .orderBy("tag_host", "ts")
    },
      dpCte + ",\n" +
        dedupCte("click", "", T0, scanEnd(T1, HOUR), extraCols = ", host") + ",\n" +
        s"""ds AS (
           |  SELECT skey, host, ts - ts % $HOUR AS b, avg(value) AS value
           |  FROM dedup GROUP BY skey, host, ts - ts % $HOUR),
           |agg AS (SELECT host, b, sum(value) AS v FROM ds GROUP BY host, b),
           |r AS (
           |  SELECT host, b, v,
           |         lag(v) OVER (PARTITION BY host ORDER BY b) AS v0,
           |         lag(b) OVER (PARTITION BY host ORDER BY b) AS b0
           |  FROM agg)
           |SELECT host AS tag_host, b // 1000 AS ts,
           |       ${sroundSql("(v - v0) / ((b - b0) / 1000.0)")} AS value
           |FROM r WHERE v0 IS NOT NULL
           |ORDER BY tag_host, ts""".stripMargin),

    // §2.8 counter semantics: wrap at counterMax, resetValue → 0
    Gate("q_rate_counter", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(
          metric = "error",
          aggregator = "none",
          downsample = Some("1h-last"),
          rate = true,
          rateOptions = RateOptions(counter = true, counterMax = 10000L, resetValue = 2L))))
    },
      rateBase("error") + "\n" +
        s"""SELECT skey, b // 1000 AS ts,
           |       ${sroundSql("""CASE WHEN v - v0 < 0 THEN
           |               CASE WHEN (10000 - v0 + v) / ((b - b0) / 1000.0) > 2
           |                    THEN 0.0
           |                    ELSE (10000 - v0 + v) / ((b - b0) / 1000.0) END
           |             ELSE (v - v0) / ((b - b0) / 1000.0) END""")} AS value
           |FROM r WHERE v0 IS NOT NULL
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.8 dropResets: wrapped samples removed but still the next base
    Gate("q_rate_drop", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(
          metric = "error",
          aggregator = "none",
          downsample = Some("1h-last"),
          rate = true,
          rateOptions = RateOptions(counter = true, dropResets = true))))
    },
      rateBase("error") + "\n" +
        s"""SELECT skey, b // 1000 AS ts,
           |       ${sroundSql("(v - v0) / ((b - b0) / 1000.0)")} AS value
           |FROM r WHERE v0 IS NOT NULL AND v - v0 >= 0
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.6 topN/bottomN: whole-series selection by max/min of last 3 dps
    Gate("q_top3", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "signup", aggregator = "top3", downsample = Some("1h-avg"))))
    },
      dpCte + ",\n" +
        dedupCte("signup", "", T0, scanEnd(T1, HOUR)) + ",\n" +
        s"""ds AS (
           |  SELECT skey, ts - ts % $HOUR AS b, avg(value) AS v
           |  FROM dedup GROUP BY skey, ts - ts % $HOUR),
           |last3 AS (
           |  SELECT skey, b, v,
           |         row_number() OVER (PARTITION BY skey ORDER BY b DESC) AS rn
           |  FROM ds),
           |score AS (SELECT skey, max(v) AS s FROM last3 WHERE rn <= 3 GROUP BY skey),
           |keep AS (SELECT skey FROM score ORDER BY s DESC, skey LIMIT 3)
           |SELECT d.skey, d.b // 1000 AS ts, ${sroundSql("d.v")} AS value
           |FROM ds d JOIN keep USING (skey)
           |ORDER BY skey, ts, value""".stripMargin),

    Gate("q_bottom2", { (s, dir) =>
      out(Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "signup", aggregator = "bottom2", downsample = Some("1h-avg"))))
    },
      dpCte + ",\n" +
        dedupCte("signup", "", T0, scanEnd(T1, HOUR)) + ",\n" +
        s"""ds AS (
           |  SELECT skey, ts - ts % $HOUR AS b, avg(value) AS v
           |  FROM dedup GROUP BY skey, ts - ts % $HOUR),
           |last3 AS (
           |  SELECT skey, b, v,
           |         row_number() OVER (PARTITION BY skey ORDER BY b DESC) AS rn
           |  FROM ds),
           |score AS (SELECT skey, min(v) AS s FROM last3 WHERE rn <= 3 GROUP BY skey),
           |keep AS (SELECT skey FROM score ORDER BY s ASC, skey LIMIT 2)
           |SELECT d.skey, d.b // 1000 AS ts, ${sroundSql("d.v")} AS value
           |FROM ds d JOIN keep USING (skey)
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.9 hourly rollup materialization {cnt,min,max,sum}
    Gate("q_rollup_1h", { (s, dir) =>
      val raw = DpView.dp(s, dir)
        .filter(col("metric") === "error" && col("ts") >= T0 && col("ts") < T1)
      Rollup.rollup1h(raw)
        .select(col("skey"), expr("wts div 1000").as("ts"), col("cnt"),
          round4(col("min")).as("vmin"), round4(col("max")).as("vmax"),
          round4(col("sum")).as("vsum"))
        .orderBy("skey", "ts")
    },
      dpCte + "\n" +
        s"""SELECT skey, (ts - ts % $HOUR) // 1000 AS ts,
           |       count(value) AS cnt,
           |       ${sroundSql("min(value)")} AS vmin,
           |       ${sroundSql("max(value)")} AS vmax,
           |       ${sroundSql("sum(value)")} AS vsum
           |FROM dp
           |WHERE metric = 'error' AND ts >= $T0 AND ts < $T1
           |GROUP BY skey, ts - ts % $HOUR
           |ORDER BY skey, ts""".stripMargin),

    // §2.9 daily (level-2) rollup from hourly
    Gate("q_rollup_1d", { (s, dir) =>
      val raw = DpView.dp(s, dir)
        .filter(col("metric") === "error" && col("ts") >= T0 && col("ts") < T1)
      Rollup.rollup1d(Rollup.rollup1h(raw))
        .select(col("skey"), expr("wts div 1000").as("ts"), col("cnt"),
          round4(col("min")).as("vmin"), round4(col("max")).as("vmax"),
          round4(col("sum")).as("vsum"))
        .orderBy("skey", "ts")
    },
      dpCte + "\n" +
        s"""SELECT skey, (ts - ts % $DAY) // 1000 AS ts,
           |       count(value) AS cnt,
           |       ${sroundSql("min(value)")} AS vmin,
           |       ${sroundSql("max(value)")} AS vmax,
           |       ${sroundSql("sum(value)")} AS vsum
           |FROM dp
           |WHERE metric = 'error' AND ts >= $T0 AND ts < $T1
           |GROUP BY skey, ts - ts % $DAY
           |ORDER BY skey, ts""".stripMargin),

    // §2.9 rollup-aware downsample: 6h-avg answered from rollup_1h must
    // equal the raw answer (the oracle computes it from raw)
    Gate("q_rollup_route", { (s, dir) =>
      val raw = DpView.dp(s, dir)
        .filter(col("metric") === "error" &&
          col("ts").between(T0, scanEnd(T1, SIXH)))
      out(Rollup.downsampleFromRollup(Rollup.rollup1h(raw), SIXH, "avg"))
    },
      dpCte + "\n" +
        s"""SELECT skey, (ts - ts % $SIXH) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dp
           |WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |GROUP BY skey, ts - ts % $SIXH
           |ORDER BY skey, ts, value""".stripMargin),

    // §3.1 routed execution end-to-end: planRouted picks rollup_1h,
    // snaps 6h to the grid, applies OOO fallback — must equal the raw
    // truth the oracle computes
    Gate("q_routed_e2e", { (s, dir) =>
      val d = DpView.dp(s, dir)
      val base = d.filter(col("metric") === "error")
      out(Planner.planRouted(
        d,
        TsQuery(T0, T1),
        SubQuery(metric = "error", aggregator = "none", downsample = Some("6h-avg")),
        Planner.Options(rollup1h = Some(Rollup.rollup1h(base)))))
    },
      dpCte + "\n" +
        s"""SELECT skey, (ts - ts % $SIXH) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dp
           |WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |GROUP BY skey, ts - ts % $SIXH
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.9 OOO invalidation + per-slice raw fallback: the stored rollup
    // misses late re-ingested points; marked (series, day) slices are
    // recomputed from raw (with dedup) and merged with clean rollup
    // slices — the result must equal the all-raw truth.
    Gate("q_rollup_fallback", { (s, dir) =>
      val d = DpView.dp(s, dir)
        .filter(col("metric") === "error" &&
          col("ts").between(T0, scanEnd(T1, SIXH)))
      val late = d.filter(col("seq") % 5 === 0)
        .withColumn("value", col("value") + 0.5)
        .withColumn("seq", col("seq") + 10000000L)
      val stored = Rollup.rollup1h(d) // built before the late arrivals
      out(Rollup.downsampleWithFallback(d.unionByName(late), stored, SIXH, "avg"))
    },
      dpCte + ",\n" +
        s"""dup AS (
           |  SELECT skey, ts, value, seq FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |  UNION ALL
           |  SELECT skey, ts, value + 0.5, seq + 10000000 FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |    AND seq % 5 = 0),
           |dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dup GROUP BY skey, ts)
           |SELECT skey, (ts - ts % $SIXH) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $SIXH
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.10 bucketed co-located layout end-to-end: the error metric
    // written skey-bucketed (Maintenance.writeBucketed), queried
    // through the planner — dedup + 1h downsample run with ZERO
    // exchanges off the bucket partitioning (plan asserted in
    // MaintenanceSpec) and must equal the raw-scan truth
    Gate("q_bucketed", { (s, dir) =>
      val d = DpView.dp(s, dir)
        .filter(col("metric") === "error" &&
          col("ts").between(T0, scanEnd(T1, HOUR)))
      // clear catalog AND warehouse dir: a previous session's table
      // files survive while the in-memory catalog doesn't, and
      // saveAsTable refuses to create over an existing path
      s.sql("DROP TABLE IF EXISTS graft_bucketed_gate")
      val whPath = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")),
        "graft_bucketed_gate")
      val whFs = whPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (whFs.exists(whPath)) whFs.delete(whPath, true)
      graft.store.Maintenance.writeBucketed(d, "graft_bucketed_gate", buckets = 8)
      out(Planner.planSub(
        s.table("graft_bucketed_gate"),
        TsQuery(T0, T1),
        SubQuery(metric = "error", aggregator = "none", downsample = Some("1h-avg"))))
    },
      dpCte + ",\n" +
        dedupCte("error", "", T0, scanEnd(T1, HOUR)) + "\n" +
        s"""SELECT skey, (ts - ts % $HOUR) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $HOUR
           |ORDER BY skey, ts, value""".stripMargin),

    // BEYOND-REFERENCE series alignment: as-of join — each click event
    // picks up the latest at-or-before error sample of the same user;
    // one keyed shuffle + running-last window, never a range join
    // (SeriesJoin.asofJoin; oracle = DuckDB's native ASOF LEFT JOIN)
    Gate("q_asof_join", { (s, dir) =>
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.query.SeriesJoin.asofJoin(clicks, errors, Seq("user_id"))
        .orderBy("event_id")
    },
      // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
      // implementation (inclusive <=, per-user)
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events),
         |c AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'click'),
         |e AS (SELECT user_id, ts AS asof_ts, value AS err_value FROM ev WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id, c.ts, c.value, e.asof_ts, e.err_value
         |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.asof_ts
         |ORDER BY c.event_id""".stripMargin),

    // forward direction: each click picks up the EARLIEST error at or
    // after it (merge_asof direction='forward'; DuckDB infers forward
    // from the flipped inequality)
    Gate("q_asof_forward", { (s, dir) =>
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.query.SeriesJoin.asofJoin(clicks, errors, Seq("user_id"),
        direction = "forward")
        .orderBy("event_id")
    },
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events),
         |c AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'click'),
         |e AS (SELECT user_id, ts AS asof_ts, value AS err_value FROM ev WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id, c.ts, c.value, e.asof_ts, e.err_value
         |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts <= e.asof_ts
         |ORDER BY c.event_id""".stripMargin),

    // same join under a 2h tolerance: stale matches (err older than
    // ts - 2h) fall back to null, the merge_asof tolerance contract
    Gate("q_asof_tolerance", { (s, dir) =>
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("err_value"))
      graft.query.SeriesJoin.asofJoin(clicks, errors, Seq("user_id"),
        tolerance = Some(2L * 3600 * 1000))
        .orderBy("event_id")
    },
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events),
         |c AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'click'),
         |e AS (SELECT user_id, ts AS asof_ts, value AS err_value FROM ev WHERE event_type = 'error'),
         |j AS (
         |  SELECT c.event_id, c.user_id, c.ts, c.value, e.asof_ts, e.err_value
         |  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.asof_ts)
         |SELECT event_id, user_id, ts, value,
         |  CASE WHEN asof_ts >= ts - ${2L * 3600 * 1000} THEN asof_ts END AS asof_ts,
         |  CASE WHEN asof_ts >= ts - ${2L * 3600 * 1000} THEN err_value END AS err_value
         |FROM j ORDER BY event_id""".stripMargin),

    // BEYOND-REFERENCE interval join: all (click, error) pairs of the
    // same user with the error in the 2h before the click — bucketed
    // equi-join on (key, window-wide bucket), never a per-key range
    // scan (SeriesJoin.intervalJoin)
    Gate("q_interval_join", { (s, dir) =>
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts"), col("value").as("err_value"))
      graft.query.SeriesJoin.intervalJoin(clicks, errors, Seq("user_id"),
        lower = -2L * 3600 * 1000, upper = 0L)
        .orderBy("event_id", "err_id")
    },
      // plain inequality join is the oracle for the bucketed equi-join
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events),
         |c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         |e AS (SELECT event_id AS err_id, user_id, ts AS err_ts, value AS err_value
         |      FROM ev WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id, c.ts, e.err_ts AS right_ts, e.err_id, e.err_value
         |FROM c JOIN e ON c.user_id = e.user_id
         |  AND e.err_ts BETWEEN c.ts - ${2L * 3600 * 1000} AND c.ts
         |ORDER BY c.event_id, e.err_id""".stripMargin),

    // the SAME pairs through the native stream-stream interval join:
    // a deterministic 2-batch replay (ts-sorted halves, memory sink,
    // processAllAvailable between batches) whose final emitted set
    // must equal the batch operator's oracled result. Lateness is set
    // beyond the replay's disorder, so the watermark machinery runs
    // (state eviction is spec-asserted) without dropping rows — the
    // determinism that makes a streaming operator oracle-checkable
    Gate("q_interval_stream", { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
        // deterministic user sample: the replay prices micro-batch
        // state machinery, which is row-count-independent — a quarter
        // of the users exercises the same operator paths (oracle
        // carries the same filter)
        .filter(col("user_id") % 4 === 0)
      // bounded driver collect BY CONSTRUCTION of the replay harness:
      // a production stream arrives from a source, not a collect
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[(Long, Long, Long)].collect().sortBy(_._3)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .as[(Long, Long, Long, Double)].collect().sortBy(_._3)
      val lMem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val rMem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Double)]
      val out = graft.streaming.StreamJoin.intervalJoinStream(
        lMem.toDS().toDF("event_id", "user_id", "ts"),
        rMem.toDS().toDF("err_id", "user_id", "ts", "err_value"),
        Seq("user_id"), lower = -2L * 3600 * 1000, upper = 0L,
        lateness = "365 days")
      val qn = s"q_interval_stream_${streamGateSeq.incrementAndGet()}"
      runReplay(s, out, qn, partitions = autoJoinParts(dir)) { () =>
        val lb = clicks.grouped(math.max(1, (clicks.length + 1) / 2)).toSeq
        val rb = errors.grouped(math.max(1, (errors.length + 1) / 2)).toSeq
        (0 until 2).map { i => () =>
          lb.lift(i).foreach(b => lMem.addData(b.toSeq: _*))
          rb.lift(i).foreach(b => rMem.addData(b.toSeq: _*))
        }
      }
      s.table(qn)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("right_ts"), col("err_id"), col("err_value"))
        .orderBy("event_id", "err_id")
    },
      // the streaming replay finalizes exactly the batch interval join's
      // pairs on the replay's deterministic user sample — same truth
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events WHERE user_id % 4 = 0),
         |c AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         |e AS (SELECT event_id AS err_id, user_id, ts AS err_ts, value AS err_value
         |      FROM ev WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id, c.ts, e.err_ts AS right_ts, e.err_id, e.err_value
         |FROM c JOIN e ON c.user_id = e.user_id
         |  AND e.err_ts BETWEEN c.ts - ${2L * 3600 * 1000} AND c.ts
         |ORDER BY c.event_id, e.err_id""".stripMargin),

    // the as-of enrichment through the custom-state streaming operator
    // (flatMapGroupsWithState): same 2-batch replay, then two
    // watermark-flush rows on the right stream (watermarks take effect
    // one batch late; the event-time timeout then wakes quiet keys) so
    // every left finalizes — the emitted set must equal the batch
    // as-of join's oracled result
    Gate("q_asof_stream", { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ev = DpView.events(s, dir).select(
        col("event_id"), DpView.tsMillis.as("ts"),
        col("user_id"), col("event_type"), col("value"))
        .filter(col("user_id") % 4 === 0) // oracle carries the same sample
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .as[(Long, Long, Long, Double)].collect().sortBy(_._3)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
        .as[(Long, Long, Double)].collect().sortBy(_._2)
      val lMem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Double)]
      val rMem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Double)]
      // lateness beyond the replay's cross-stream batch-boundary skew:
      // nothing is late-dropped, so the emitted set is deterministic
      // and equals the batch truth (eviction is spec-asserted, not
      // this gate's job)
      val latenessMs = 30L * 86400 * 1000
      val out = graft.streaming.StreamJoin.asofEnrichStream(
        lMem.toDS().toDF("event_id", "user_id", "ts", "value"),
        rMem.toDS().toDF("user_id", "ts", "err_value"),
        keyCols = Seq("user_id"), lateness = "30 days")
      val qn = s"q_asof_stream_${streamGateSeq.incrementAndGet()}"
      runReplay(s, out, qn, partitions = autoJoinParts(dir)) { () =>
        val lb = clicks.grouped(math.max(1, (clicks.length + 1) / 2)).toSeq
        val rb = errors.grouped(math.max(1, (errors.length + 1) / 2)).toSeq
        val replay = (0 until 2).map { i => () =>
          lb.lift(i).foreach(b => lMem.addData(b.toSeq: _*))
          rb.lift(i).foreach(b => rMem.addData(b.toSeq: _*))
        }
        // flush: push the watermark past every left (+2 batches — the
        // watermark lags one batch, the timeout fires the next)
        val maxTs = (clicks.map(_._3) ++ errors.map(_._2)).max
        replay ++ Seq(
          () => rMem.addData((-1L, maxTs + 2 * latenessMs, 0.0)),
          () => rMem.addData((-1L, maxTs + 3 * latenessMs, 0.0)))
      }
      s.table(qn)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof_ts"), col("err_value"))
        .orderBy("event_id")
    },
      // the streaming replay finalizes exactly the batch as-of join's
      // result on the replay's deterministic user sample — same truth
      s"""WITH ev AS (
         |  SELECT event_id, epoch_ms(ts) AS ts, user_id, event_type, value
         |  FROM events WHERE user_id % 4 = 0),
         |c AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'click'),
         |e AS (SELECT user_id, ts AS asof_ts, value AS err_value FROM ev WHERE event_type = 'error')
         |SELECT c.event_id, c.user_id, c.ts, c.value, e.asof_ts, e.err_value
         |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.asof_ts
         |ORDER BY c.event_id""".stripMargin),

    // BEYOND-REFERENCE streaming exact dedup:
    // `dropDuplicatesWithinWatermark` keyed by ingest seq — the
    // Spark-native at-scale answer to duplicate delivery (at-least-once
    // transports, WAL replays): state holds only keys INSIDE the
    // watermark horizon instead of forever. Batch 1 replays the click
    // stream; batch 2 re-delivers every seq%3==0 row byte-identically
    // (a late duplicate well inside the 30-day horizon). The emitted
    // set must equal the original stream — first arrival wins, and
    // since resends are identical the oracle is just the base rows.
    Gate("q_dedup_stream", { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = DpView.dp(s, dir)
        .filter(col("metric") === "click" && col("ts").between(T0, T1))
        .select(graft.model.Dp.seriesKey(col("metric"), col("tags"))
          .as("skey"), col("ts"), col("value"), col("seq"))
        .as[(String, Long, Double, Long)].collect().sortBy(_._2)
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Double, Long)]
      val out = mem.toDS().toDF("skey", "ts", "value", "seq")
        .withColumn("ets", timestamp_millis(col("ts")))
        .withWatermark("ets", "30 days")
        .dropDuplicatesWithinWatermark("seq")
        .drop("ets")
      val qn = s"q_dedup_stream_${streamGateSeq.incrementAndGet()}"
      runReplay(s, out, qn) { () =>
        val dups = rows.filter(_._4 % 3 == 0)
        Seq(
          () => mem.addData(rows.toSeq: _*),
          () => mem.addData(dups.toSeq: _*))
      }
      s.table(qn)
        .select(col("skey"), col("ts"), col("value"), col("seq"))
        .orderBy("seq")
    },
      // streaming-dedup oracle: re-delivered rows are byte-identical and
      // the op keeps first arrival, so the surviving set IS the base
      // click stream
      dpCte + "\n" +
        s"""SELECT skey, ts, value, seq FROM dp
           |WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |ORDER BY seq""".stripMargin),

    // BEYOND-REFERENCE streaming cardinality sketch: distinct users
    // per (metric, day) maintained CONTINUOUSLY as HLL registers — the
    // state is (groups × 256) longs no matter how many events stream
    // through, `max` merges order-free, so the final registers (and
    // the estimate read off them) are byte-identical to the batch
    // sketch regardless of micro-batching. Two-batch replay proves the
    // merge; exact batch distinct alongside prices the accuracy. This
    // is the 100 TB continuous-ingest answer to COUNT(DISTINCT): no
    // per-user state, no late-data re-scan.
    Gate("q_hll_stream", { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val ev = DpView.events(s, dir)
        .select(col("event_type").as("metric"), DpView.tsMillis.as("ts"),
          col("user_id"))
        .filter(col("ts").between(T0, T1))
      val rows = ev.as[(String, Long, Long)].collect().sortBy(r => (r._2, r._3))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long)]
      val st = mem.toDS().toDF("metric", "ts", "user_id")
        .withColumn("day", col("ts") - pmod(col("ts"), lit(DAY)))
        .withColumn("ukey", col("user_id").cast("string"))
      val regs = graft.pipeline.Sketches
        .hllRegistersBy(st, "ukey", Seq("metric", "day"))
      val qn = s"q_hll_stream_${streamGateSeq.incrementAndGet()}"
      runReplay(s, regs, qn, outputMode = "complete") { () =>
        val (b1, b2) = rows.partition(_._3 % 2 == 0)
        Seq(
          () => mem.addData(b1.toSeq: _*),
          () => mem.addData(b2.toSeq: _*))
      }
      val est = graft.pipeline.Sketches
        .hllEstimate(s.table(qn), Seq("metric", "day"), 8)
      val exact = ev
        .withColumn("day", col("ts") - pmod(col("ts"), lit(DAY)))
        .groupBy("metric", "day")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("metric", "day"))
        .select(col("metric"), expr("day div 1000").as("day"),
          col("n_exact"), round4(col("est")).as("est"))
        .orderBy("metric", "day")
    },
      // the streaming HLL's final registers are order-free, so the
      // batch replay (identical md5 registers + estimate formula as
      // pl_hll_distinct's oracle, keyed metric×day) is the exact truth
      s"""WITH ev AS (
         |  SELECT event_type AS metric, epoch_ms(ts) AS ts, user_id
         |  FROM events),
         |w AS (
         |  SELECT metric, ts - ts % $DAY AS day,
         |         CAST(user_id AS VARCHAR) AS k, user_id
         |  FROM ev WHERE ts BETWEEN $T0 AND $T1),
         |hs AS (
         |  SELECT metric, day, user_id,
         |         CAST(('0x' || substr(md5(k), 1, 15)) AS BIGINT) AS h
         |  FROM w),
         |regs AS (
         |  SELECT metric, day, h & 255 AS bucket,
         |    max(CASE WHEN (h >> 8) = 0 THEN 53
         |             ELSE 53 - length(bin(h >> 8)) END) AS M
         |  FROM hs GROUP BY 1, 2, 3),
         |agg AS (
         |  SELECT metric, day, count(*) AS nb,
         |    sum(CAST(round(power(2, 53 - M)) AS BIGINT)) AS zp
         |  FROM regs GROUP BY 1, 2),
         |f AS (
         |  SELECT metric, day,
         |    CAST(zp + (256 - nb) * 9007199254740992 AS BIGINT) AS zint,
         |    256 - nb AS v
         |  FROM agg),
         |e AS (
         |  SELECT metric, day, v,
         |    (0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)) * 65536.0e0
         |      / (CAST(zint AS DOUBLE) / 9007199254740992.0e0) AS eraw
         |  FROM f),
         |hll AS (
         |  SELECT metric, day,
         |    CASE WHEN eraw <= 640.0e0 AND v > 0
         |         THEN 256.0e0 * ln(256.0e0 / CAST(v AS DOUBLE))
         |         ELSE eraw END AS est
         |  FROM e),
         |ex AS (
         |  SELECT metric, day, count(DISTINCT user_id) AS n_exact
         |  FROM w GROUP BY 1, 2)
         |SELECT ex.metric, ex.day // 1000 AS day, n_exact,
         |       ${sroundSql("est")} AS est
         |FROM ex JOIN hll USING (metric, day)
         |ORDER BY metric, day""".stripMargin),

    // BEYOND-REFERENCE streaming frequency sketch: count-min counters
    // for per-user click frequency maintained CONTINUOUSLY — state is
    // depth×width longs no matter how many events or users stream
    // through. Counter cells are ADDITIVE (a plain streaming count per
    // (row, bucket)), so the final table is byte-identical to the
    // batch sketch regardless of micro-batching — proven by a
    // two-batch replay split by user parity. Readout: the exact
    // top-20 users (the candidate set a heavy-hitter loop maintains)
    // estimated off the streamed counters; CMS can only OVErcount, so
    // `overcount` ≥ 0 is structural. The 100 TB continuous answer to
    // "top users right now" without per-user state.
    Gate("q_cms_stream", { (s, dir) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val depth = 4
      val width = 1024
      val ev = DpView.events(s, dir)
        .select(col("event_type").as("metric"), DpView.tsMillis.as("ts"),
          col("user_id"))
        .filter(col("metric") === "click" && col("ts").between(T0, T1))
      val rows = ev.select(col("ts"), col("user_id")).as[(Long, Long)]
        .collect().sortBy(r => (r._1, r._2))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val st = mem.toDS().toDF("ts", "user_id")
        .withColumn("ukey", concat(lit("u"), col("user_id").cast("string")))
      val rb = explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"),
          graft.pipeline.Sketches.cmsBucket(col("ukey"), i, width)
            .as("bucket"))): _*)).as("rb")
      val regs = st.select(rb)
        .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
        .agg(count(lit(1)).as("c"))
      val qn = s"q_cms_stream_${streamGateSeq.incrementAndGet()}"
      runReplay(s, regs, qn, outputMode = "complete") { () =>
        val (b1, b2) = rows.partition(_._2 % 2 == 0)
        Seq(
          () => mem.addData(b1.toSeq: _*),
          () => mem.addData(b2.toSeq: _*))
      }
      val sketch = s.table(qn)
      val exact = ev
        .withColumn("ukey", concat(lit("u"), col("user_id").cast("string")))
        .groupBy("ukey").agg(count(lit(1)).as("cnt"))
      val cand = exact.orderBy(col("cnt").desc, col("ukey")).limit(20)
      val addressed = (0 until depth).map { i =>
        cand.withColumn("row", lit(i))
          .withColumn("bucket",
            graft.pipeline.Sketches.cmsBucket(col("ukey"), i, width))
      }.reduce(_ unionByName _)
      addressed.join(broadcast(sketch), Seq("row", "bucket"))
        .groupBy(col("ukey"), col("cnt"))
        .agg(min(col("c")).as("est"))
        .select(col("ukey"), col("cnt"), col("est"),
          (col("est") - col("cnt")).as("overcount"))
        .orderBy("ukey")
    },
      // streaming CMS counters are additive, so the replayed sketch
      // equals the batch sketch computed here cell-for-cell
      s"""WITH ev AS (
         |  SELECT 'u' || CAST(user_id AS VARCHAR) AS ukey
         |  FROM events
         |  WHERE event_type = 'click'
         |    AND epoch_ms(ts) BETWEEN $T0 AND $T1),
         |tc AS (
         |  SELECT ukey, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ev GROUP BY ukey),
         |ctr AS (
         |  SELECT i,
         |         CAST(('0x' || substr(md5(ukey || '#'
         |           || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
         |           AS bucket,
         |         CAST(sum(cnt) AS BIGINT) AS c
         |  FROM tc CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
         |  GROUP BY i, bucket),
         |cand AS (SELECT ukey, cnt FROM tc ORDER BY cnt DESC, ukey LIMIT 20),
         |est AS (
         |  SELECT cand.ukey, cand.cnt, CAST(min(ctr.c) AS BIGINT) AS est
         |  FROM cand JOIN ctr
         |    ON ctr.bucket = CAST(('0x' || substr(md5(cand.ukey || '#'
         |         || CAST(ctr.i AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
         |  GROUP BY 1, 2)
         |SELECT ukey, cnt, est, est - cnt AS overcount
         |FROM est ORDER BY ukey""".stripMargin),

    // BEYOND-REFERENCE streaming sessionization: Spark's native
    // session_window gap-merge maintains OPEN sessions as streaming
    // state and emits each one exactly once when the event-time
    // watermark passes its close — the continuous form of
    // q_sessionize, with per-user state bounded by open sessions
    // (not history). Two time-ordered data batches prove the
    // cross-batch merge (sessions spanning the split must come out
    // whole); a far-future sentinel row advances the watermark to
    // flush the tail sessions. Gap is 30min+1ms because
    // session_window merges on strict <, while the batch rule keeps
    // equality (diff == gap stays in-session).
    Gate("q_sessionize_stream", { (s, dir) =>
      import s.implicits._
      val gapMs = 30L * 60 * 1000
      val ev = DpView.events(s, dir).select(
        col("user_id"), DpView.tsMillis.as("ts"), col("event_id"))
      // FILE-SOURCE replay (r13): this is the one replay whose INPUT is
      // the whole corpus — the MemoryStream harness collected every
      // event to the driver and shipped each half back as a
      // LocalRelation inside the task binary (233 MiB tasks at sf10,
      // a driver funnel scaling with the corpus). Here the batches are
      // written as four single-file parquet batches (distributed
      // compute, one-task writes) and readStream + maxFilesPerTrigger=1
      // replays them in mod-time order — the production shape (files
      // arriving at a directory), with the driver never holding a row.
      // the gate's OWN counter (not streamGateSeq, which every replay
      // gate advances): the cleanup below keeps "this invocation and
      // its immediate predecessor", and with a shared counter another
      // streaming gate running in between would put the real
      // predecessor's dir inside the deleted range
      val seq = sessGateSeq.incrementAndGet()
      val root = java.nio.file.Paths.get(replayGateRoot, s"sess_$seq")
      // reclaim older invocations' RAM-backed sinks (keep this one and
      // its immediate predecessor, whose result frame the caller may
      // still be consuming lazily): /dev/shm otherwise accumulates one
      // corpus-sized parquet sink per invocation for the JVM's lifetime
      (1L until seq - 1).foreach { old =>
        try rmTree(java.nio.file.Paths.get(replayGateRoot, s"sess_$old"))
        catch { case _: java.io.IOException => () }
      }
      val inDir = root.resolve("in")
      val outDir = root.resolve("out")
      java.nio.file.Files.createDirectories(inDir)
      // time-ordered halves: batch 2 is never late vs batch 1's
      // watermark (b1 = ts ≤ mid, b2 = ts > mid), but sessions
      // STRADDLING the cut exercise the open-state merge. The split
      // point only has to land mid-corpus — the emitted session set is
      // split-invariant — so an approximate median is fine.
      val bounds = ev.agg(
        expr("approx_percentile(ts, 0.5, 100)").as("mid"),
        max(col("ts")).as("mx")).head()
      val (midTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
      def writeBatch(df: DataFrame, idx: Int): Unit = {
        val stage = root.resolve(s"stage$idx")
        df.repartition(1).write.mode("overwrite").parquet(stage.toString)
        val ls = java.nio.file.Files.list(stage)
        val part = try ls
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally ls.close()
        val dst = inDir.resolve(f"b$idx%04d.parquet")
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // explicit ascending mod times: FileStreamSource replays in
        // mod-time order, and sequential writes can land in the same
        // filesystem timestamp tick
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + idx * 1000L))
        rmTree(stage)
      }
      // the two corpus-half writes are independent single-file jobs;
      // run them as CONCURRENT Spark jobs (each computes its filter +
      // single-task write) instead of back-to-back — the replay can't
      // start until both exist, so their wall time is on the gate
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val w0 = Future(writeBatch(ev.filter(col("ts") <= midTs), 0))
        val w1 = Future(writeBatch(ev.filter(col("ts") > midTs), 1))
        Await.result(w0, Duration.Inf); Await.result(w1, Duration.Inf)
      }
      // TWO sentinel batches: the first advances the watermark past
      // every real session, but append-mode emission fires in the
      // batch AFTER the advance — the second sentinel is that batch
      writeBatch(Seq((-1L, maxTs + 10 * gapMs, 0L))
        .toDF("user_id", "ts", "event_id"), 2)
      writeBatch(Seq((-1L, maxTs + 11 * gapMs, 0L))
        .toDF("user_id", "ts", "event_id"), 3)
      val st = s.readStream
        .schema("user_id BIGINT, ts BIGINT, event_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
        .withColumn("ets", timestamp_millis(col("ts")))
        .withWatermark("ets", "0 seconds")
        .groupBy(col("user_id"),
          session_window(col("ets"), s"${gapMs + 1} milliseconds"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
      // State partitions AUTO-SIZED from the input volume (r15): this
      // is the one replay whose keyed state is corpus-sized (every
      // user's open sessions), so the session-merge sort + state-store
      // work must parallelize — but the knee MOVES with state size.
      // Measured A/B (r13 at sf1, re-run at sf10 in r14): 8 partitions
      // win up to sf1 (sf1: 23.6 s @1 / 15.2 @4 / 13.5 @8 / 14.3 @16),
      // 16 win ~15% at sf10 (38.9 @8 / 33.2 @16 / 33.4 @32), and more
      // partitions only add per-batch state-store fixed cost. The
      // default applies the √n-sizing discipline to that measurement:
      // parts = clamp(pow2(√(input KiB)/16), 8, 64), which reproduces
      // the measured knee (sf0.1 ~2 MiB → 8, sf1 ~20 MiB → 8, sf10
      // ~200 MiB → 16) and keeps growing √-rate past it. RocksDB
      // provider (55.5 s @sf10) and map-side session merge were A/B'd
      // and REJECTED — bounded replays never amortize RocksDB's write
      // amplification, and local merge pays an extra per-batch sort.
      // Parquet sink: the emitted session set is also corpus-sized, so
      // it must not land in a driver-memory table either.
      val sessParts = autoSessParts(dir)
      runReplay(s, st, qn = "", partitions = sessParts,
        sinkPath = Some(outDir.toString)) { () =>
        // one drain: maxFilesPerTrigger=1 turns the four staged files
        // into four ordered micro-batches under processAllAvailable
        Seq(() => ())
      }
      s.read.parquet(outDir.toString).filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    },
      // the streamed session set equals the batch gap-sessionization —
      // same chain as q_sessionize minus the (stream-meaningless)
      // per-user ordinal
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ts, event_id FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM ev),
        |b AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev IS NULL OR ts - prev > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // §2.10 maintained metadata end-to-end: ingest batches update
    // series_index + slice_state (write-time OOO marks, reference
    // ts.cpp:281-324) + rollup_1h incrementally; the routed query then
    // runs entirely from maintained tables — no query-time OOO
    // derivation — and must equal the all-raw dedup truth. The late
    // second batch duplicates timestamps, so its slices' stored rollups
    // are stale: only the maintained marks make the answer right.
    // The store fixture is memoized per source dir, so this gate times
    // the ROUTED QUERY; q_store_ingest times the ingest path.
    Gate("q_routed_maintained", { (s, dir) =>
      val st = storeFixture(s, dir)
      out(Planner.planRouted(
        st.data,
        TsQuery(T0, T1),
        SubQuery(metric = "error", aggregator = "none", downsample = Some("6h-avg")),
        st.plannerOptions()))
    },
      // identical truth to q_rollup_fallback: last-wins dedup over the
      // base + late duplicates, then 6h averages
      dpCte + ",\n" +
        s"""dup AS (
           |  SELECT skey, ts, value, seq FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |  UNION ALL
           |  SELECT skey, ts, value + 0.5, seq + 10000000 FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |    AND seq % 5 = 0),
           |dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dup GROUP BY skey, ts)
           |SELECT skey, (ts - ts % $SIXH) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $SIXH
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.9 level-2 routing from the MAINTAINED daily table: a 1d
    // downsample routes to the store's rollup_1d (not a derivation
    // from 1h), with the same maintained OOO fallback
    Gate("q_routed_1d", { (s, dir) =>
      val st = storeFixture(s, dir)
      out(Planner.planRouted(
        st.data,
        TsQuery(T0, T1),
        SubQuery(metric = "error", aggregator = "none", downsample = Some("1d-avg")),
        st.plannerOptions()))
    },
      // same dedup truth, DAY buckets: the planner answers from the
      // maintained rollup_1d + marked-slice raw fallback, the oracle
      // from raw alone (data exists only to T1+6h-1, inside the last
      // day bucket's scan extension)
      dpCte + ",\n" +
        s"""dup AS (
           |  SELECT skey, ts, value, seq FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |  UNION ALL
           |  SELECT skey, ts, value + 0.5, seq + 10000000 FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |    AND seq % 5 = 0),
           |dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dup GROUP BY skey, ts)
           |SELECT skey, (ts - ts % $DAY) // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $DAY
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.1/§2.10 store ingest throughput: a FRESH store per call — ONE
    // full ingest batch (append + series index + slice state + both
    // rollup levels, all metadata from one collected partials pass). The
    // returned frame is the store's raw data read back with last-wins
    // dedup — proving the appended data round-trips, while the bench
    // entry prices ingest. The two-batch late-duplicate path stays
    // priced by q_routed_maintained's fixture build + StoreSpec.
    Gate("q_store_ingest", { (s, dir) =>
      val st = buildMaintainedStore(s, dir, withLate = false)
      out(Planner.planSub(
        st.data,
        TsQuery(T0, T1),
        SubQuery(metric = "error", aggregator = "none")))
    },
      // raw last-wins truth of the single-batch store, no downsample
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'error' AND ts BETWEEN $T0 AND ${scanEnd(T1, SIXH)}
           |  GROUP BY skey, ts)
           |SELECT skey, ts // 1000 AS ts,
           |       ${sroundSql("value")} AS value
           |FROM dedup
           |WHERE ts BETWEEN $T0 AND $T1
           |ORDER BY skey, ts, value""".stripMargin),

    // BEYOND-REFERENCE sessionization: per-user event sessions split
    // at 30-min inactivity gaps — ONE keyed window (lag + running sum
    // of break flags) then a hash aggregate; the standard large-scale
    // clickstream shape, all-integer outputs so the hash oracle is
    // exact by construction
    Gate("q_sessionize", { (s, dir) =>
      val gapMs = 30L * 60 * 1000
      val ev = DpView.events(s, dir).select(
        col("user_id"), DpView.tsMillis.as("ts"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("ts") - col("prev") > gapMs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "sid")
    },
      // sessionization oracle: identical lag/running-sum/aggregate chain
      // (sums cast to BIGINT — DuckDB widens to HUGEINT otherwise)
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS ts, event_id FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM ev),
        |b AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev IS NULL OR ts - prev > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b)
        |SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin),

    // BEYOND-REFERENCE rolling z-score anomaly detection: per series,
    // each point scored against the mean/σ of its 12 predecessors
    // (frame excludes the current row — no self-contamination). The
    // moments compute from QUANTIZED-INTEGER window sums (order-free
    // across engines) and every subsequent step is a fixed-shape IEEE
    // scalar expression, so the 4-dp-rounded z crosses the engine
    // boundary exactly
    Gate("q_anomaly", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      val w = Window.partitionBy(col("skey")).orderBy(col("ts"))
        .rowsBetween(-12, -1)
      d.withColumn("q", quant4(col("value")))
        .withColumn("n", count(col("q")).over(w))
        .withColumn("sq", sum(col("q")).over(w).cast("double"))
        .withColumn("sq2", sum(col("q") * col("q")).over(w).cast("double"))
        .withColumn("mean", col("sq") / col("n"))
        .withColumn("varq",
          (col("sq2") - col("sq") * col("sq") / col("n")) / col("n"))
        .filter(col("n") >= 6 && col("varq") > 0)
        .withColumn("z",
          (col("q").cast("double") - col("mean")) / sqrt(col("varq")))
        .filter(abs(col("z")) > 2.0)
        .select(col("skey"), col("ts"), round4(col("z")).as("z"))
        .orderBy("skey", "ts")
    },
      // anomaly oracle: same dedup, quantization, integer window sums,
      // and fixed-shape moment/z expressions as the gate
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |qz AS (
           |  SELECT skey, ts,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |win AS (
           |  SELECT skey, ts, q,
           |    CAST(count(q) OVER w AS BIGINT) AS n,
           |    CAST(sum(q) OVER w AS DOUBLE) AS sq,
           |    CAST(sum(q * q) OVER w AS DOUBLE) AS sq2
           |  FROM qz
           |  WINDOW w AS (PARTITION BY skey ORDER BY ts
           |               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
           |m AS (
           |  SELECT skey, ts, q, n, sq / n AS mean,
           |         (sq2 - sq * sq / n) / n AS varq
           |  FROM win WHERE n >= 6),
           |z AS (
           |  SELECT skey, ts,
           |         (CAST(q AS DOUBLE) - mean) / sqrt(varq) AS z
           |  FROM m WHERE varq > 0)
           |SELECT skey, ts, ${sroundSql("z")} AS z
           |FROM z WHERE abs(z) > 2.0
           |ORDER BY skey, ts""".stripMargin),

    // BEYOND-REFERENCE exponentially-weighted moving average: per
    // series, pandas-style adjusted EWMA (α=0.25) over the last 16
    // points. The weight (3/4)^lag is scaled by 4^15 into INTEGER
    // weights 3^(n−i)·4^(i−1) — numerator and denominator are exact
    // int64 sums (q ≤ 5.7e6·16·2^30 < 2^63), so the single final
    // double division is the only float op and the hash crosses the
    // engine boundary exactly
    Gate("q_ewma", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      val w = Window.partitionBy(col("skey")).orderBy(col("ts"))
        .rowsBetween(-15, Window.currentRow)
      val n = size(col("l"))
      val num = aggregate(
        transform(sequence(lit(1), n), i =>
          element_at(col("l"), i)
            * round(pow(lit(3.0), (n - i).cast("double"))).cast("long")
            * round(pow(lit(4.0), (i - 1).cast("double"))).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val den = aggregate(
        transform(sequence(lit(1), n), i =>
          round(pow(lit(3.0), (n - i).cast("double"))).cast("long")
            * round(pow(lit(4.0), (i - 1).cast("double"))).cast("long")),
        lit(0L), (acc, x) => acc + x)
      d.withColumn("q", quant4(col("value")))
        .withColumn("l", collect_list(col("q")).over(w))
        .withColumn("ewma",
          round4(num.cast("double") / den.cast("double") / 10000.0))
        .select(col("skey"), col("ts"), col("ewma"))
        .orderBy("skey", "ts")
    },
      // EWMA oracle: same dedup + quantization, the same integer-weight
      // formulation (list window + exact int64 sums), one final division
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |qz AS (
           |  SELECT skey, ts,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |lw AS (
           |  SELECT skey, ts,
           |    list(q) OVER (PARTITION BY skey ORDER BY ts
           |                  ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
           |  FROM qz),
           |e AS (
           |  SELECT skey, ts,
           |    CAST(list_sum(list_transform(range(1, len(l) + 1), i ->
           |        l[i] * CAST(round(power(3, len(l) - i)) AS BIGINT)
           |             * CAST(round(power(4, i - 1)) AS BIGINT))) AS DOUBLE)
           |    / CAST(list_sum(list_transform(range(1, len(l) + 1), i ->
           |        CAST(round(power(3, len(l) - i)) AS BIGINT)
           |             * CAST(round(power(4, i - 1)) AS BIGINT))) AS DOUBLE)
           |    / 10000.0 AS ew
           |  FROM lw)
           |SELECT skey, ts, ${sroundSql("ew")} AS ewma
           |FROM e ORDER BY skey, ts""".stripMargin),

    // BEYOND-REFERENCE per-series Holt linear-trend forecast
    // (ETS(A,A,N), α=β=1/4): integer level/trend recurrence on the
    // 1e-4 grid, one keyed exchange, 3 projections per series
    Gate("q_forecast", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      graft.query.Forecast.holtLinear(d, horizons = 3)
        .orderBy("skey", "h")
    },
      // forecast oracle: identical integer Holt recurrence walked by a
      // recursive CTE (one step per (series, position); floor(x/4.0)
      // over |x| << 2^52 is exactly Java's floorDiv(x, 4))
      dpCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |ordq AS MATERIALIZED (
           |  SELECT skey,
           |         ${quantSql("value")} AS q,
           |         CAST(row_number() OVER (PARTITION BY skey ORDER BY ts) AS BIGINT) AS i
           |  FROM dedup),
           |cnt AS (SELECT skey, max(i) AS n FROM ordq GROUP BY skey),
           |hw AS (
           |  SELECT skey, i, q AS l, CAST(0 AS BIGINT) AS b
           |  FROM ordq WHERE i = 1
           |  UNION ALL
           |  SELECT h.skey, o.i,
           |    CAST(floor((o.q + 3 * (h.l + h.b)) / 4.0) AS BIGINT) AS l,
           |    CAST(floor((CAST(floor((o.q + 3 * (h.l + h.b)) / 4.0) AS BIGINT)
           |                 - h.l + 3 * h.b) / 4.0) AS BIGINT) AS b
           |  FROM hw h JOIN ordq o ON o.skey = h.skey AND o.i = h.i + 1),
           |fin AS (
           |  SELECT h.skey, h.l, h.b
           |  FROM hw h JOIN cnt c ON h.skey = c.skey AND h.i = c.n)
           |SELECT skey, CAST(t.hh AS BIGINT) AS h,
           |       (l + t.hh * b) / 10000.0 AS forecast
           |FROM fin CROSS JOIN (VALUES (1), (2), (3)) t(hh)
           |ORDER BY skey, h""".stripMargin),

    // BEYOND-REFERENCE Holt-Winters additive seasonal forecast
    // (ETS(A,A,A), α=β=γ=1/4, period 4): the seasonal extension of
    // q_forecast — same integer-grid recurrence plus a period-length
    // seasonal state vector
    Gate("q_hw_forecast", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      graft.query.Forecast.holtWinters(d, period = 4, horizons = 3)
        .orderBy("skey", "h")
    },
      // Holt-Winters oracle: the q_forecast walk plus a length-4
      // seasonal LIST carried through the recursive CTE; every state
      // update is the identical integer recurrence (floor(x/4.0) ==
      // floorDiv(x,4) for |x| << 2^52), so both engines hold
      // bit-identical (l, b, s[1..4]) at every step
      dpCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |ordq AS MATERIALIZED (
           |  SELECT skey,
           |         ${quantSql("value")} AS q,
           |         CAST(row_number() OVER (PARTITION BY skey ORDER BY ts) AS BIGINT) AS i
           |  FROM dedup),
           |cnt AS (SELECT skey, max(i) AS n FROM ordq GROUP BY skey),
           |lm AS MATERIALIZED (
           |  SELECT skey, CAST(floor(CAST(sum(q) AS DOUBLE) / 4) AS BIGINT) AS l0
           |  FROM ordq WHERE i <= 4 GROUP BY skey HAVING count(*) = 4),
           |init AS MATERIALIZED (
           |  SELECT o.skey, CAST(4 AS BIGINT) AS i, l.l0 AS l,
           |         CAST(0 AS BIGINT) AS b, list(o.q - l.l0 ORDER BY o.i) AS s
           |  FROM ordq o JOIN lm l ON o.skey = l.skey WHERE o.i <= 4
           |  GROUP BY o.skey, l.l0),
           |hw AS (
           |  SELECT skey, i, l, b, s FROM init
           |  UNION ALL
           |  SELECT h.skey, o.i,
           |    CAST(floor((o.q - h.s[(o.i - 1) % 4 + 1]
           |                 + 3 * (h.l + h.b)) / 4.0) AS BIGINT) AS l,
           |    CAST(floor((CAST(floor((o.q - h.s[(o.i - 1) % 4 + 1]
           |                 + 3 * (h.l + h.b)) / 4.0) AS BIGINT)
           |                 - h.l + 3 * h.b) / 4.0) AS BIGINT) AS b,
           |    list_transform(range(1, 5), j -> CASE
           |      WHEN j = (o.i - 1) % 4 + 1 THEN
           |        CAST(floor((o.q
           |          - CAST(floor((o.q - h.s[(o.i - 1) % 4 + 1]
           |                 + 3 * (h.l + h.b)) / 4.0) AS BIGINT)
           |          + 3 * h.s[(o.i - 1) % 4 + 1]) / 4.0) AS BIGINT)
           |      ELSE h.s[CAST(j AS INTEGER)] END) AS s
           |  FROM hw h JOIN ordq o ON o.skey = h.skey AND o.i = h.i + 1),
           |fin AS (
           |  SELECT h.skey, c.n, h.l, h.b, h.s
           |  FROM hw h JOIN cnt c ON h.skey = c.skey AND h.i = c.n)
           |SELECT skey, CAST(t.hh AS BIGINT) AS h,
           |       (l + t.hh * b + s[CAST((n + t.hh - 1) % 4 + 1 AS INTEGER)])
           |         / 10000.0 AS forecast
           |FROM fin CROSS JOIN (VALUES (1), (2), (3)) t(hh)
           |ORDER BY skey, h""".stripMargin),

    // BEYOND-REFERENCE CUSUM drift detection (Page 1954): integer
    // recurrence per series, κ=σ/2 slack, 5σ alarm threshold
    Gate("q_cusum", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      graft.query.Forecast.cusum(d)
        .orderBy("skey", "ts")
    },
      // cusum oracle: identical integer stats (floor-mean, one sqrt for
      // σ) and the identical integer max/add recurrence, walked
      // recursively per (series, position)
      dpCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |ordq AS MATERIALIZED (
           |  SELECT skey, ts,
           |         ${quantSql("value")} AS q,
           |         CAST(row_number() OVER (PARTITION BY skey ORDER BY ts) AS BIGINT) AS i
           |  FROM dedup),
           |st AS MATERIALIZED (
           |  SELECT skey,
           |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS mu
           |  FROM ordq GROUP BY skey),
           |st2 AS MATERIALIZED (
           |  SELECT o.skey,
           |    CAST(floor(sqrt(CAST(sum((o.q - st.mu) * (o.q - st.mu)) AS DOUBLE)
           |                    / count(*)) / 2.0) AS BIGINT) AS kq,
           |    CAST(floor(sqrt(CAST(sum((o.q - st.mu) * (o.q - st.mu)) AS DOUBLE)
           |                    / count(*)) * 5.0) AS BIGINT) AS hq,
           |    st.mu AS mu
           |  FROM ordq o JOIN st ON o.skey = st.skey
           |  GROUP BY o.skey, st.mu),
           |cu AS (
           |  SELECT o.skey, o.ts, o.i,
           |         GREATEST(CAST(0 AS BIGINT), o.q - s.mu - s.kq) AS s
           |  FROM ordq o JOIN st2 s ON o.skey = s.skey WHERE o.i = 1
           |  UNION ALL
           |  SELECT c.skey, o.ts, o.i,
           |         GREATEST(CAST(0 AS BIGINT), c.s + o.q - s.mu - s.kq) AS s
           |  FROM cu c
           |  JOIN ordq o ON o.skey = c.skey AND o.i = c.i + 1
           |  JOIN st2 s ON o.skey = s.skey)
           |SELECT c.skey, c.ts, c.s / 10000.0 AS score, c.s > s.hq AS alarm
           |FROM cu c JOIN st2 s ON c.skey = s.skey
           |ORDER BY c.skey, c.ts""".stripMargin),

    // BEYOND-REFERENCE SAX symbolic representation (Lin et al. 2003):
    // hourly PAA buckets z-normalized per series onto a 4-letter
    // alphabet — one word per series for motif/anomaly indexing
    Gate("q_sax", { (s, dir) =>
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
      graft.query.Forecast.sax(d, bucketMs = 3600000L)
        .orderBy("skey")
    },
      // SAX oracle: identical integer PAA floor-means and series stats
      // (floor-mean μ, one fixed-shape sqrt for σ — the cusum recipe);
      // each symbol compares an exact integer deviation against the
      // same ±0.6745σ doubles, so both engines emit identical words
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |qq AS MATERIALIZED (
           |  SELECT skey, CAST(floor(ts / 3600000.0) AS BIGINT) AS b,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |paa AS MATERIALIZED (
           |  SELECT skey, b,
           |         CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS p
           |  FROM qq GROUP BY skey, b),
           |st AS MATERIALIZED (
           |  SELECT skey, count(*) AS n,
           |         CAST(floor(CAST(sum(p) AS DOUBLE) / count(*)) AS BIGINT) AS mu
           |  FROM paa GROUP BY skey),
           |sg AS MATERIALIZED (
           |  SELECT p.skey,
           |         sqrt(CAST(sum((p.p - s.mu) * (p.p - s.mu)) AS DOUBLE) / s.n) AS sig
           |  FROM paa p JOIN st s USING (skey) GROUP BY p.skey, s.n),
           |sym AS (
           |  SELECT p.skey, p.b, CASE
           |    WHEN CAST(p.p - s.mu AS DOUBLE) < -0.6745 * g.sig THEN 'a'
           |    WHEN p.p - s.mu < 0 THEN 'b'
           |    WHEN CAST(p.p - s.mu AS DOUBLE) < 0.6745 * g.sig THEN 'c'
           |    ELSE 'd' END AS c
           |  FROM paa p JOIN st s USING (skey) JOIN sg g USING (skey))
           |SELECT s.skey, s.n AS n_seg, string_agg(y.c, '' ORDER BY y.b) AS sax
           |FROM sym y JOIN st s USING (skey)
           |GROUP BY s.skey, s.n ORDER BY s.skey""".stripMargin),

    // BEYOND-REFERENCE value-distribution histogram: per event type,
    // 20 equal-width bins over the type's [min, max] — the two-pass
    // profile shape (tiny bounds frame broadcast back against the
    // fact scan; bin math is pure IEEE arithmetic on both engines)
    Gate("q_histogram", { (s, dir) =>
      val ev = DpView.events(s, dir).select(col("event_type"), col("value"))
      val bounds = ev.groupBy("event_type")
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .withColumn("bin",
          when(col("hi") > col("lo"),
            least(floor((col("value") - col("lo"))
              / (col("hi") - col("lo")) * 20), lit(19.0)))
            .otherwise(lit(0.0)).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    },
      // histogram oracle: same two-pass bounds + IEEE bin math
      """WITH b AS (
        |  SELECT event_type, min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |       CAST(CASE WHEN hi > lo
        |              THEN least(floor((value - lo) / (hi - lo) * 20), 19.0e0)
        |              ELSE 0.0e0 END AS BIGINT) AS bin,
        |       count(*) AS n
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type, bin
        |ORDER BY e.event_type, bin""".stripMargin),

    // BEYOND-REFERENCE event-property analytics: the events table's
    // `props` JSON column parsed in-plan (get_json_object — codegen'd,
    // no UDF) and aggregated per (metric, property bucket). Float sums
    // cross the engine boundary as quantized-integer sums (order-free;
    // the pl_corpus_stats lesson) divided once at the end.
    Gate("q_props_agg", { (s, dir) =>
      DpView.events(s, dir)
        .select(col("event_type").as("metric"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(col("metric"), pmod(col("k"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(quant4(col("value")))
            / 10000.0).as("vsum"))
        .orderBy("metric", "bucket")
    },
      // props JSON parsed by regexp on the DuckDB side (no JSON
      // extension dependency); quantized-integer sum, one final division
      s"""SELECT metric, bucket, n, vsum FROM (
        |  SELECT event_type AS metric,
        |         CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS BIGINT) % 10 AS bucket,
        |         count(*) AS n,
        |         sum(${quantSql("value")}) / 10000.0 AS vsum
        |  FROM events GROUP BY 1, 2)
        |ORDER BY metric, bucket""".stripMargin),

    // BEYOND-REFERENCE robust anomaly detection: per-series median/MAD
    // (median absolute deviation) outlier flagging — the robust global
    // sibling of q_anomaly's rolling z-score (one extreme point can't
    // drag its own threshold the way it drags a mean/σ). Values
    // quantize to the 1e-4 integer grid first; both medians are
    // linear-interpolated quantiles over integers (results are exact
    // halves/quarters in IEEE, identical cross-engine), and the robust
    // z is one fixed-shape scalar expression. Shape at scale: two hash
    // aggregations over the deduped frame (per-series state = that
    // series' values, the same bounded-group contract as exact pNN —
    // the percentile sketch route exists for unbounded groups) and two
    // broadcast joins back; the deduped+quantized frame is kept
    // because three passes read it.
    Gate("q_mad", { (s, dir) => CacheScope.eager { cache =>
      val d = cache.keep(graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value"))))
      val med = d.groupBy("skey")
        .agg(percentile(col("q"), lit(0.5)).as("med"))
      val dev = d.join(broadcast(med), "skey")
        .withColumn("ad", abs(col("q").cast("double") - col("med")))
      val mad = dev.groupBy("skey")
        .agg(percentile(col("ad"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "skey")
        .filter(col("mad") > 0)
        .withColumn("rz", col("ad") / (lit(1.4826) * col("mad")))
        .filter(col("rz") > 3.0)
        .select(col("skey"), col("ts"), round4(col("rz")).as("rz"))
        .orderBy("skey", "ts")
    }},
      // MAD oracle: same dedup + quantization; quantile_cont mirrors
      // Spark's interpolating `percentile` exactly on the integer grid
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |qz AS (
           |  SELECT skey, ts,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |med AS (SELECT skey, quantile_cont(q, 0.5) AS med FROM qz GROUP BY skey),
           |dev AS (
           |  SELECT qz.skey, ts, abs(CAST(q AS DOUBLE) - med) AS ad
           |  FROM qz JOIN med ON qz.skey = med.skey),
           |mad AS (SELECT skey, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY skey)
           |SELECT d.skey, d.ts,
           |       ${sroundSql("d.ad / (1.4826 * m.mad)")} AS rz
           |FROM dev d JOIN mad m ON d.skey = m.skey
           |WHERE m.mad > 0 AND d.ad / (1.4826 * m.mad) > 3.0
           |ORDER BY d.skey, d.ts""".stripMargin),

    // BEYOND-REFERENCE autocorrelation profile: per series, the
    // lag-1..4 Pearson autocorrelation of 6h-bucketed value sums — the
    // seasonality probe that picks Holt-Winters' period. Bucket values
    // are integer-grid sums collapsed to a 1e-2 grid (`div 100` —
    // truncation and floor agree on the all-positive values, and the
    // coarser grid keeps every moment term inside int64 at 100× the
    // gate's data), lagged pairs join on the shifted bucket within the
    // series (gaps pair only with real buckets — both engines see the
    // same pair set), and r_k comes from five exact integer sums in
    // one fixed-shape IEEE expression. Shape at scale: one bucket
    // aggregation, a 4-way lag explode of the BUCKETED frame (not the
    // raw one), one self-join on (skey, bucket), one hash aggregate.
    Gate("q_acf", { (s, dir) => CacheScope.eager { cache =>
      val b = cache.keep(graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy(col("skey"),
          (col("ts") - pmod(col("ts"), lit(SIXH))).as("bucket"))
        .agg(sum(col("q")).as("sq_"))
        .select(col("skey"), col("bucket"), expr("sq_ div 100").as("b")))
      val lagged = b
        .select(col("skey"), col("bucket"), col("b").as("bx"),
          explode(array((1 to 4).map(lit(_)): _*)).as("k"))
        .select(col("skey"), col("k"),
          (col("bucket") + col("k") * SIXH).as("bucket"), col("bx"))
      lagged.join(b.withColumnRenamed("b", "by"), Seq("skey", "bucket"))
        .groupBy(col("skey"), col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("bx")).as("sx"), sum(col("by")).as("sy"),
          sum(col("bx") * col("by")).as("sxy"),
          sum(col("bx") * col("bx")).as("sxx"),
          sum(col("by") * col("by")).as("syy"))
        .withColumn("vx", (col("n") * col("sxx") - col("sx") * col("sx")))
        .withColumn("vy", (col("n") * col("syy") - col("sy") * col("sy")))
        .filter(col("n") >= 8 && col("vx") > 0 && col("vy") > 0)
        .withColumn("r",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(col("vx").cast("double") * col("vy").cast("double")))
        .select(col("skey"), col("k"), col("n"), round4(col("r")).as("r"))
        .orderBy("skey", "k")
    }},
      // ACF oracle: the same integer bucket sums (HUGEINT→BIGINT casts),
      // the same 1e-2 collapse, lag pairs via a shifted self-join, and
      // the identical five-sum Pearson expression
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT skey, ts - ts % $SIXH AS bucket,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup GROUP BY skey, ts - ts % $SIXH),
           |pr AS (
           |  SELECT x.skey, kk.k, x.b AS bx, y.b AS byy
           |  FROM bk x
           |  CROSS JOIN (VALUES (1), (2), (3), (4)) AS kk(k)
           |  JOIN bk y ON y.skey = x.skey AND y.bucket = x.bucket + kk.k * $SIXH),
           |ag AS (
           |  SELECT skey, k, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(bx) AS BIGINT) AS sx,
           |         CAST(sum(byy) AS BIGINT) AS sy,
           |         CAST(sum(bx * byy) AS BIGINT) AS sxy,
           |         CAST(sum(bx * bx) AS BIGINT) AS sxx,
           |         CAST(sum(byy * byy) AS BIGINT) AS syy
           |  FROM pr GROUP BY skey, k),
           |v AS (
           |  SELECT skey, k, n, sxy, sx, sy,
           |         n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
           |  FROM ag)
           |SELECT skey, k, n,
           |       ${sroundSql(
                      "CAST(n * sxy - sx * sy AS DOUBLE) / " +
                      "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))")} AS r
           |FROM v WHERE n >= 8 AND vx > 0 AND vy > 0
           |ORDER BY skey, k""".stripMargin),

    // BEYOND-REFERENCE cohort series-outlier scan: which whole SERIES
    // deviates from its metric's cohort ("which host is broken") — a
    // two-level aggregation: per-series integer-grid mean level, then
    // each series' z against the cohort's mean/σ of those levels.
    // Integer means via floor division (all-positive values), cohort
    // moments from exact int64 sums, z one fixed-shape expression; the
    // 1-row cohort frame broadcasts back. |z| > 1 flags.
    Gate("q_series_outlier", { (s, dir) =>
      val per = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy("skey")
        .agg(sum(col("q")).as("sq_"), count(lit(1)).as("n"))
        .select(col("skey"), expr("sq_ div n").as("mq"))
      val stats = per.agg(count(lit(1)).as("ns"), sum(col("mq")).as("sm"),
        sum(col("mq") * col("mq")).as("sm2"))
      per.crossJoin(broadcast(stats))
        .withColumn("mu", col("sm").cast("double") / col("ns"))
        .withColumn("varq",
          col("sm2").cast("double") / col("ns") - col("mu") * col("mu"))
        .filter(col("varq") > 0)
        .withColumn("z",
          (col("mq").cast("double") - col("mu")) / sqrt(col("varq")))
        .filter(abs(col("z")) > 1.0)
        .select(col("skey"), col("mq"), round4(col("z")).as("z"))
        .orderBy("skey")
    },
      // series-outlier oracle: identical integer means, cohort moments,
      // and the same fixed-shape z expression
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |per AS (
           |  SELECT skey,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // count(*) AS mq
           |  FROM dedup GROUP BY skey),
           |st AS (
           |  SELECT CAST(count(*) AS BIGINT) AS ns,
           |         CAST(sum(mq) AS BIGINT) AS sm,
           |         CAST(sum(mq * mq) AS BIGINT) AS sm2
           |  FROM per),
           |sc AS (
           |  SELECT p.skey, p.mq,
           |         CAST(sm AS DOUBLE) / ns AS mu,
           |         CAST(sm2 AS DOUBLE) / ns
           |           - (CAST(sm AS DOUBLE) / ns) * (CAST(sm AS DOUBLE) / ns)
           |           AS varq
           |  FROM per p, st)
           |SELECT skey, mq,
           |       ${sroundSql("(CAST(mq AS DOUBLE) - mu) / sqrt(varq)")} AS z
           |FROM sc
           |WHERE varq > 0
           |  AND abs((CAST(mq AS DOUBLE) - mu) / sqrt(varq)) > 1.0
           |ORDER BY skey""".stripMargin),

    // BEYOND-REFERENCE Theil–Sen robust trend: per series, the median
    // of all pairwise slopes between 6h bucket values — the estimator
    // that shrugs off the outliers that bend a least-squares line
    // (breakdown point 29%). Bucket values are the ACF gate's 1e-2
    // integer-grid sums; each slope is an exact-integer Δvalue over an
    // exact-integer Δbuckets division (identical IEEE doubles in both
    // engines), and the median interpolates like q_mad's. Pair work is
    // quadratic in BUCKETS PER SERIES — bounded by the query window
    // (108 buckets here), never by corpus size; the self-join keys on
    // skey, so each series' pairs co-locate on one task.
    Gate("q_theilsen", { (s, dir) =>
      val b = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy(col("skey"),
          (col("ts") - pmod(col("ts"), lit(SIXH))).as("t"))
        .agg(sum(col("q")).as("sq_"))
        .select(col("skey"), col("t"), expr("sq_ div 100").as("b"))
      b.as("x").join(b.as("y"),
          col("x.skey") === col("y.skey") && col("x.t") < col("y.t"))
        .select(col("x.skey").as("skey"),
          ((col("y.b") - col("x.b")).cast("double")
            / expr(s"(y.t - x.t) div $SIXH")).as("slope"))
        .groupBy("skey")
        .agg(count(lit(1)).as("n_pairs"),
          percentile(col("slope"), lit(0.5)).as("m"))
        .select(col("skey"), col("n_pairs"), round4(col("m")).as("slope"))
        .orderBy("skey")
    },
      // Theil–Sen oracle: the ACF gate's bucket grid, all ordered pairs,
      // the same exact-integer slope division, quantile_cont median
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT skey, ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup GROUP BY skey, ts - ts % $SIXH),
           |sl AS (
           |  SELECT x.skey,
           |         CAST(y.b - x.b AS DOUBLE) / ((y.t - x.t) // $SIXH) AS slope
           |  FROM bk x JOIN bk y ON y.skey = x.skey AND x.t < y.t)
           |SELECT skey, CAST(count(*) AS BIGINT) AS n_pairs,
           |       ${sroundSql("quantile_cont(slope, 0.5)")} AS slope
           |FROM sl GROUP BY skey ORDER BY skey""".stripMargin),

    // BEYOND-REFERENCE linear-interpolation gap fill ("lerp" — the
    // fill policy OpenTSDB 2.x adds and the reference does not ship;
    // down.cpp:248-311 stops at zero/null/nan): the 1h-avg downsample
    // of the sparse 'view' series on the full bucket spine, missing
    // buckets interpolated between the nearest real neighbors. Real
    // buckets round to the 1e-4 grid BEFORE interpolating, so the lerp
    // inputs — and its one fixed-shape expression over (v0, v1, t, t0,
    // t1) — cross the engine boundary exactly. Edge gaps with no
    // neighbor on one side stay unfillable and drop. Shape at scale:
    // one bucket aggregation, a spine explode per series, ONE window
    // pass computing both directed neighbors (all four IGNORE-NULLS
    // window functions share the (skey, bucket) sort).
    Gate("q_fill_linear", { (s, dir) =>
      val HOUR = 3600000L
      val d = graft.model.Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .groupBy(col("skey"),
          (col("ts") - pmod(col("ts"), lit(HOUR))).as("bucket"))
        .agg(round4(avg(col("value"))).as("v"))
      val spine = d.select("skey").distinct()
        .withColumn("bucket",
          explode(sequence(lit(T0), lit(T1), lit(HOUR))))
      val w = Window.partitionBy(col("skey")).orderBy(col("bucket"))
      val before = w.rowsBetween(Window.unboundedPreceding, -1)
      val after = w.rowsBetween(1, Window.unboundedFollowing)
      spine.join(d, Seq("skey", "bucket"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(before))
        .withColumn("pt", last(when(col("v").isNotNull, col("bucket")),
          ignoreNulls = true).over(before))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(after))
        .withColumn("nt", first(when(col("v").isNotNull, col("bucket")),
          ignoreNulls = true).over(after))
        .withColumn("value",
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (col("bucket") - col("pt")).cast("double")
              / (col("nt") - col("pt")).cast("double")))
        .filter(col("value").isNotNull)
        .select(col("skey"), expr("bucket div 1000").as("ts"),
          col("v").isNotNull.as("is_real"), round4(col("value")).as("value"))
        .orderBy("skey", "ts")
    },
      // linear-fill oracle: identical bucket rounding, the same directed
      // IGNORE-NULLS neighbor windows, the same single lerp expression
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT skey, ts - ts % 3600000 AS bucket,
           |         ${sroundSql("avg(value)")} AS v
           |  FROM dedup GROUP BY skey, ts - ts % 3600000),
           |spine AS (
           |  SELECT skey, unnest(range($T0, ${T1 + 1}, 3600000)) AS bucket
           |  FROM (SELECT DISTINCT skey FROM bk)),
           |j AS (
           |  SELECT s.skey, s.bucket, bk.v
           |  FROM spine s LEFT JOIN bk ON bk.skey = s.skey AND bk.bucket = s.bucket),
           |wnd AS (
           |  SELECT skey, bucket, v,
           |    last_value(v IGNORE NULLS) OVER wb AS pv,
           |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           |      OVER wb AS pt,
           |    first_value(v IGNORE NULLS) OVER wa AS nv,
           |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
           |      OVER wa AS nt
           |  FROM j
           |  WINDOW
           |    wb AS (PARTITION BY skey ORDER BY bucket
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |    wa AS (PARTITION BY skey ORDER BY bucket
           |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
           |f AS (
           |  SELECT skey, bucket, v,
           |    CASE WHEN v IS NOT NULL THEN v
           |         ELSE pv + (nv - pv) * CAST(bucket - pt AS DOUBLE)
           |                             / CAST(nt - pt AS DOUBLE) END AS value
           |  FROM wnd)
           |SELECT skey, bucket // 1000 AS ts, (v IS NOT NULL) AS is_real,
           |       ${sroundSql("value")} AS value
           |FROM f WHERE value IS NOT NULL
           |ORDER BY skey, ts""".stripMargin),

    // §2.10 replication checkpoints (`_cp` bookkeeping,
    // reference cp.cpp): a deterministic checkpoint stream derived from
    // the events table — dc tag as leader, host tag as channel, ts.seq
    // as the opaque checkpoint string, malformed token counts mixed
    // in — runs add → snapshot → persist → boot-reload → re-persist;
    // the oracle recomputes the surviving last-wins state per channel
    Gate("q_checkpoints", { (s, dir) =>
      import s.implicits._
      val rows = DpView.dp(s, dir)
        .filter(col("metric") === "click" && col("ts").between(T0, T1))
        .select(
          element_at(col("tags"), "dc").as("leader"),
          element_at(col("tags"), "host").as("channel"),
          col("ts"), col("seq"))
        .orderBy("seq")
        .collect()
      val tmp = java.nio.file.Files.createTempDirectory("graft_cp_gate")
      try {
        val mgr = new graft.store.CheckPoints(s, tmp.toString)
        rows.foreach { r =>
          val (l, c) = (r.getString(0), r.getString(1))
          val cp = s"${r.getLong(2)}.${r.getLong(3)}"
          val seq = r.getLong(3)
          mgr.add(
            if (seq % 7 == 0) s"$l:$c" // 2 tokens: ignored
            else if (seq % 11 == 0) s"$l:$c:$cp:x" // 4 tokens: ignored
            else s"$l:$c:$cp")
        }
        mgr.takeSnapshot(); mgr.persist()
        // a fresh manager boot-replays the newest .cp into its live map
        // (cp.cpp:40-65); the next flush cycle (close) serves it
        val rebooted = new graft.store.CheckPoints(s, tmp.toString)
        rebooted.close()
        rebooted.persistedMap.toSeq
          .flatMap { case (l, chans) => chans.toSeq.map { case (c, v) => (l, c, v) } }
          .toDF("leader", "channel", "checkpoint")
          .orderBy("leader", "channel")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    },
      // last-wins per (leader, channel) over the well-formed checkpoint
      // stream — seq order is application order, so arg_max by seq
      dpCte + ",\n" +
        s"""src AS (
           |  SELECT dc AS leader, host AS channel,
           |         CAST(ts AS VARCHAR) || '.' || CAST(seq AS VARCHAR) AS cp,
           |         seq
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |    AND seq % 7 <> 0 AND seq % 11 <> 0)
           |SELECT leader, channel, arg_max(cp, seq) AS checkpoint
           |FROM src GROUP BY leader, channel
           |ORDER BY leader, channel""".stripMargin),

    // §2.1 InfluxDB line protocol: field explode, _field tag, escapes,
    // ns/s/ms timestamps, string fields skipped, missing ts → now
    Gate("q_ingest_influx", { (s, dir) =>
      import s.implicits._
      val lines = Seq(
        "weather,city=SF,country=US temp=65.5,humidity=80i 1704412800000000000",
        "weather,city=NY temp=20.25 1704412800",
        """cpu\ load,host=a\ b value=0.5,bad="str" 1704412801000""",
        "mem free=1024i",
        "# comment",
        "garbage line").toDS()
      val dp = graft.ingest.Ingest.fromInflux(lines, nowMs = 1704412800123L)
      graft.model.Dp.withSeriesKey(dp)
        .select(col("skey"), col("ts"), col("value"))
        .orderBy("skey", "ts", "value")
    },
      """SELECT * FROM (VALUES
        |  ('cpu_Sload,_field=value,host=a_Sb', 1704412801000, 0.5),
        |  ('mem,_field=free', 1704412800123, 1024.0),
        |  ('weather,_field=humidity,city=SF,country=US', 1704412800000, 80.0),
        |  ('weather,_field=temp,city=NY', 1704412800000, 20.25),
        |  ('weather,_field=temp,city=SF,country=US', 1704412800000, 65.5)
        |) AS t(skey, ts, value) ORDER BY skey, ts, value""".stripMargin),

    // §2.1 OpenTSDB plain put lines
    Gate("q_ingest_plain", { (s, dir) =>
      import s.implicits._
      val lines = Seq(
        "put sys.cpu 1704412800 42.5 host=a dc=east",
        "put sys.cpu 1704412801000 43 host=b",
        "put mem.free 1704412802 1024",
        "version",
        "put bad x 1 t=v").toDS()
      val dp = graft.ingest.Ingest.fromPlain(lines)
      graft.model.Dp.withSeriesKey(dp)
        .select(col("skey"), col("ts"), col("value"))
        .orderBy("skey", "ts", "value")
    },
      """SELECT * FROM (VALUES
        |  ('mem.free', 1704412802000, 1024.0),
        |  ('sys.cpu,dc=east,host=a', 1704412800000, 42.5),
        |  ('sys.cpu,host=b', 1704412801000, 43.0)
        |) AS t(skey, ts, value) ORDER BY skey, ts, value""".stripMargin),

    // §2.1 OpenTSDB JSON put bodies (object + array forms)
    Gate("q_ingest_json", { (s, dir) =>
      import s.implicits._
      val bodies = Seq(
        """{"metric":"sys.cpu","timestamp":1704412800,"value":18,"tags":{"host":"web01"}}""",
        """[{"metric":"a","timestamp":1704412800000,"value":1.5,"tags":{}},
          |{"metric":"b","timestamp":1704412801,"value":"2.5","tags":{"x":"y"}}]""".stripMargin)
        .toDS()
      val dp = graft.ingest.Ingest.fromJson(bodies)
      graft.model.Dp.withSeriesKey(dp)
        .select(col("skey"), col("ts"), col("value"))
        .orderBy("skey", "ts", "value")
    },
      """SELECT * FROM (VALUES
        |  ('a', 1704412800000, 1.5),
        |  ('b,x=y', 1704412801000, 2.5),
        |  ('sys.cpu,host=web01', 1704412800000, 18.0)
        |) AS t(skey, ts, value) ORDER BY skey, ts, value""".stripMargin),

    // §3.1 GET /api/query 1.x surface: m= grammar parsed end-to-end —
    // grouping block splits by dc, non-grouping block filters host only
    Gate("q_mexpr", { (s, dir) =>
      val q = graft.query.MExpr.parseGet(
        Map(
          "start" -> Seq(T0.toString),
          "end" -> Seq(T1.toString),
          "m" -> Seq("avg:1h-sum:view{dc=*}{host=literal_or(host2|host4)}")),
        nowMs = T1)
      val df = Planner.planSub(DpView.dp(s, dir), q, q.subQueries.head)
      df.select(col("tag_dc"), expr("ts div 1000").as("ts"),
          round4(col("value")).as("value"))
        .orderBy("tag_dc", "ts")
    },
      dpCte + ",\n" +
        dedupCte("view", " AND host IN ('host2','host4')", T0, scanEnd(T1, HOUR),
          extraCols = ", dc") + ",\n" +
        s"""ds AS (
           |  SELECT skey, dc, ts - ts % $HOUR AS b, sum(value) AS value
           |  FROM dedup GROUP BY skey, dc, ts - ts % $HOUR)
           |SELECT dc AS tag_dc, b // 1000 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM ds GROUP BY dc, b
           |ORDER BY tag_dc, ts""".stripMargin),

    // §1.3 internal ms timestamps: planner output keeps epoch-ms on a
    // sub-hour bucket grid (the sec/ms response-edge conversion itself
    // is covered by ApiSpec on QueryApi.toJson)
    Gate("q_ds_msres", { (s, dir) =>
      Planner.planSub(
        DpView.dp(s, dir),
        TsQuery(T0, T1),
        SubQuery(metric = "purchase", aggregator = "none", downsample = Some("90m-avg")))
        .select(col("skey"), col("ts"), round4(col("value")).as("value"))
        .orderBy("skey", "ts", "value")
    },
      dpCte + ",\n" +
        dedupCte("purchase", "", T0, scanEnd(T1, M90)) + "\n" +
        s"""SELECT skey, ts - ts % $M90 AS ts,
           |       ${sroundSql("avg(value)")} AS value
           |FROM dedup
           |GROUP BY skey, ts - ts % $M90
           |ORDER BY skey, ts, value""".stripMargin),

    // §2.3 GET /api/aggregators
    Gate("q_aggregators", { (s, dir) =>
      graft.query.Meta.aggregatorsDf(s)
    },
      // hardcoded independently of Meta.aggregators on purpose — a
      // generated list would make the differential gate tautological
      """SELECT * FROM (VALUES
        |  ('avg'), ('bottom1'), ('bottom3'), ('bottom5'), ('bottom9'),
        |  ('count'), ('dev'), ('first'), ('last'), ('max'), ('min'),
        |  ('none'), ('p50'), ('p90'), ('p95'), ('p98'), ('p99'),
        |  ('p999'), ('sum'), ('top1'), ('top3'), ('top5'), ('top9')
        |) AS t(aggregator) ORDER BY aggregator""".stripMargin),

    // §2.3 suggest: distinct metrics by prefix, sorted, capped
    Gate("q_suggest", { (s, dir) =>
      Meta.suggestMetrics(DpView.dp(s, dir), prefix = "")
    },
      """SELECT DISTINCT event_type AS metric FROM events
        |ORDER BY metric LIMIT 1000""".stripMargin),

    // §2.3 suggest: lone `*` is match-all for type=metrics
    // (reference `is_star`, tsdb.cpp:2631-2646)
    Gate("q_suggest_star", { (s, dir) =>
      Meta.suggestMetrics(DpView.dp(s, dir), prefix = "*")
    },
      """SELECT DISTINCT event_type AS metric FROM events
        |ORDER BY metric LIMIT 1000""".stripMargin),

    // §2.3 suggest type=tagk / type=tagv
    Gate("q_suggest_tagk", { (s, dir) =>
      Meta.suggestTagKeys(DpView.dp(s, dir), prefix = "")
    },
      """SELECT DISTINCT tagk FROM (
        |  SELECT unnest(CASE WHEN user_id % 3 = 0 THEN ['dc','host','od']
        |                     ELSE ['dc','host'] END) AS tagk
        |  FROM events)
        |ORDER BY tagk LIMIT 1000""".stripMargin),

    Gate("q_suggest_tagv", { (s, dir) =>
      Meta.suggestTagValues(DpView.dp(s, dir), prefix = "host")
    },
      dpCte + "\n" +
        """SELECT DISTINCT host AS tagv FROM dp
          |ORDER BY tagv LIMIT 1000""".stripMargin),

    // §2.3 lookup: series paging by limit/offset
    Gate("q_lookup", { (s, dir) =>
      Meta.lookupSeries(DpView.dp(s, dir), "error", limit = 7, offset = 3)
    },
      dpCte + "\n" +
        s"""SELECT DISTINCT skey FROM dp WHERE metric = 'error'
           |ORDER BY skey LIMIT 7 OFFSET 3""".stripMargin),

    // §2.3 lookup with tag filters (`m=<metric>{tag=value,...}` —
    // reference query.cpp:1511-1540), full filter grammar in values
    Gate("q_lookup_tags", { (s, dir) =>
      val (metric, tags) = Meta.parseLookupM(
        "view{dc=dc1,host=literal_or(host1|host2)}")
      Meta.lookupSeries(DpView.dp(s, dir), metric, tags, limit = 5, offset = 1)
    },
      dpCte + "\n" +
        s"""SELECT DISTINCT skey FROM dp
           |WHERE metric = 'view' AND dc = 'dc1'
           |  AND host IN ('host1','host2')
           |ORDER BY skey LIMIT 5 OFFSET 1""".stripMargin)
  )
}
