package graft.api

import graft.ingest.JsonMini
import graft.model.{Dp, RateOptions, RollupUsage, SubQuery, TsQuery}
import graft.query.{Downsample, Meta, Planner, TimeParse}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** OpenTSDB-compatible JSON query API: `POST /api/query` body → QuerySpec →
  * Planner → OpenTSDB-shaped JSON response. This is the thin codec layer
  * (SURVEY.md §3.2) — a real HTTP server would mount [[runQuery]] directly;
  * the JSON work deliberately stays out of the Spark plan.
  */
object QueryApi {

  /** Parse a `POST /api/query` body (reference `Query` ctor,
    * `src/core/query.cpp:54-170, 1346-1453`). `nowMs` anchors relative
    * times (injectable for determinism).
    */
  def parseRequest(body: String, nowMs: Long = System.currentTimeMillis()): TsQuery = {
    val m = JsonMini.parseObject(body)
      .getOrElse(throw new IllegalArgumentException("bad query body"))
    val tz = m.get("tz").collect { case s: String => s }.getOrElse("UTC")
    def ts(v: Any): Long = v match {
      case l: Long => TimeParse.toMs(l)
      case d: Double => TimeParse.toMs(d.toLong)
      case s: String => TimeParse.parse(s, nowMs, tz)
      case other => throw new IllegalArgumentException(s"bad time: $other")
    }
    val start = ts(m.getOrElse("start",
      throw new IllegalArgumentException("missing start")))
    val end = m.get("end").map(ts).getOrElse(nowMs)
    val msRes = m.get("msResolution").collect { case b: Boolean => b }.getOrElse(false)
    val subs = m.get("queries").collect { case xs: Seq[_] =>
      xs.collect { case q: Map[_, _] => parseSub(q.asInstanceOf[Map[String, Any]]) }
    }.getOrElse(Nil)
    TsQuery(start, end, msRes, subs)
  }

  private def parseSub(m: Map[String, Any]): SubQuery = {
    val tags = m.get("tags").collect { case mm: Map[_, _] =>
      mm.collect { case (k: String, v: String) => k -> v }.toMap
    }.getOrElse(Map.empty[String, String])
    val ro = m.get("rateOptions").collect { case r: Map[_, _] =>
      val rm = r.asInstanceOf[Map[String, Any]]
      RateOptions(
        counter = rm.get("counter").collect { case b: Boolean => b }.getOrElse(false),
        dropResets = rm.get("dropResets").collect { case b: Boolean => b }.getOrElse(false),
        counterMax = rm.get("counterMax").collect {
          case l: Long => l; case d: Double => d.toLong
        }.getOrElse(Long.MaxValue),
        resetValue = rm.get("resetValue").collect {
          case l: Long => l; case d: Double => d.toLong
        }.getOrElse(0L))
    }.getOrElse(RateOptions())
    SubQuery(
      metric = m.get("metric").collect { case s: String => s }
        .getOrElse(throw new IllegalArgumentException("missing metric")),
      aggregator = m.get("aggregator").collect { case s: String => s }.getOrElse("none"),
      downsample = m.get("downsample").collect { case s: String => s },
      rate = m.get("rate").collect { case b: Boolean => b }.getOrElse(false),
      rateOptions = ro,
      tags = tags,
      groupByTags = tags.keys.toSeq.sorted, // 2.x: queried tags group
      explicitTags = m.get("explicitTags").collect { case b: Boolean => b }.getOrElse(false),
      rollupUsage = m.get("rollupUsage").collect { case s: String => s } match {
        case Some("ROLLUP_RAW") => RollupUsage.Raw
        case _ => RollupUsage.FallbackRaw
      })
  }

  /** One OpenTSDB result set: metric + common tags + aggregateTags + dps. */
  final case class ResultSet(
      metric: String,
      tags: Map[String, String],
      aggregateTags: Seq[String],
      dps: Seq[(Long, Double)])

  /** aggregateTags semantics (reference `add_query_task`,
    * `src/core/query.cpp:1683-1738`): over the group's series tag sets —
    * keys present in EVERY series keep their value if unanimous, move to
    * `aggregateTags` when values differ (grouping keys always stay);
    * keys absent from any series are dropped.
    */
  def mergeTags(
      seriesTags: Seq[Map[String, String]],
      groupingKeys: Set[String]): (Map[String, String], Seq[String]) = {
    if (seriesTags.isEmpty) return (Map.empty, Nil)
    val commonKeys = seriesTags.map(_.keySet).reduce(_ intersect _)
    val (same, differ) = commonKeys.partition { k =>
      seriesTags.map(_(k)).distinct.size == 1
    }
    val kept = (same ++ differ.intersect(groupingKeys))
      .map(k => k -> seriesTags.head(k)).toMap
    (kept, differ.diff(groupingKeys).toSeq.sorted)
  }

  /** Default response cap in data points. The reference refuses results
    * that overflow its response buffer with HTTP 413 (query.cpp:
    * 1626-1646, `g_max_response_size`); datapoint count is the Spark
    * proxy — ~4M dps ≈ tens of MB of JSON.
    */
  val DefaultMaxDps: Int = 4 << 20

  /** Thrown when a result exceeds the response cap; [[runQuery]] turns
    * it into the 413 error body.
    */
  final case class ResponseTooLarge(cap: Int)
      extends RuntimeException(s"response exceeds $cap data points")

  /** Bounded collect — the ONLY place bulk data reaches the driver. The
    * limit is part of the plan, so an over-cap query never materializes
    * more than cap+1 rows driver-side (no unbounded collect, ever).
    * Spark takes a limit's partitions in rounds, a job each; an answer
    * the planner kept in one partition (its small-input plan) is taken
    * in one job.
    */
  private def cappedCollect(df: DataFrame, maxDps: Int): Array[Row] = {
    val rows = df.limit(maxDps + 1).collect()
    if (rows.length > maxDps) throw ResponseTooLarge(maxDps)
    rows
  }

  /** Execute every sub-query and serialize the concatenated result sets.
    * Throws [[ResponseTooLarge]] when the result exceeds `maxDps` data
    * points — the HTTP layer maps it to status 413 (the reference sends
    * an empty 413, query.cpp:1644); [[runQuery]] folds it into an error
    * body for embedded callers.
    */
  def executeQuery(dp: DataFrame, q: TsQuery,
      opt: Planner.Options = Planner.Options(),
      maxDps: Int = DefaultMaxDps): String =
    executeQuery(dp, q, opt, maxDps, force = None)

  /** [[executeQuery]] with the planner's one-partition decision forced
    * when `force` is set (see [[Planner.planRouted]]).
    */
  private[graft] def executeQuery(dp: DataFrame, q: TsQuery,
      opt: Planner.Options, maxDps: Int, force: Option[Boolean]): String = {
    // the cap is a RESPONSE budget, shared across sub-queries — each
    // sub collects against what the previous ones left (the reference
    // caps the whole response buffer, not per sub-query)
    var remaining = maxDps
    val sets = q.subQueries.flatMap { sub =>
      val subSets = runSub(dp, q, sub, opt, remaining, force)
      remaining -= subSets.iterator.map(_.dps.size).sum
      if (remaining < 0) throw ResponseTooLarge(maxDps)
      subSets
    }
    sets.map(toJson(_, q.msResolution)).mkString("[", ",", "]")
  }

  /** [[executeQuery]] with the 413 refusal folded into an error body. */
  def runQuery(dp: DataFrame, q: TsQuery,
      opt: Planner.Options = Planner.Options(),
      maxDps: Int = DefaultMaxDps): String =
    try executeQuery(dp, q, opt, maxDps)
    catch {
      case ResponseTooLarge(_) =>
        s"""{"error":{"code":413,"message":"response too large: more than $maxDps data points"}}"""
    }

  /** Run a query against a maintained [[graft.store.Store]] with its
    * metadata defaults — series-index scans, maintained OOO marks, and
    * rollup routing are always on, like the reference's QuerySuperTask.
    * The data read is day-pruned to the query window (plus downsample
    * slack): the scan opens the queried days' files, not the store's
    * whole history.
    */
  def runQuery(store: graft.store.Store, q: TsQuery): String =
    runQuery(storeFrame(store, q), q, store.plannerOptions(), DefaultMaxDps)

  /** Day-pruned source frame for a query over a maintained store (also
    * the HTTP edge's scan source). Slack: the planner's scan expansion
    * is bounded by the largest downsample interval (expanded end;
    * rollup snapping is <= 1d).
    */
  def storeFrame(store: graft.store.Store, q: TsQuery): DataFrame = {
    val slack = q.subQueries
      .flatMap(_.downsample)
      .flatMap(s => scala.util.Try(Downsample.parse(s).intervalMs).toOption)
      .maxOption.getOrElse(0L)
      .max(graft.rollup.Rollup.DayMs)
    store.dataForRange(q.startMs, q.endMs, slack)
  }

  private def runSub(dp: DataFrame, q: TsQuery, sub: SubQuery,
      opt: Planner.Options, maxDps: Int, force: Option[Boolean]): Seq[ResultSet] = {
    // without a series index, ask the planner to carry each output row's
    // member series keys — aggregateTags then derives from the collected
    // rows themselves, not a second fact scan
    val planOpt =
      if (opt.seriesIndex.isEmpty) opt.copy(collectSeriesKeys = true) else opt
    val df = Planner.planRouted(dp, q, sub, planOpt, force)
    val perSeries = df.columns.contains("skey")

    if (perSeries) {
      // aggregator none / topN / bottomN: one result set per series
      val rows = cappedCollect(
        df.select(col("skey"), col("tags"), col("ts"), col("value")), maxDps)
      rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        val tags = rs.head.getAs[Map[String, String]]("tags")
        ResultSet(sub.metric, tags, Nil,
          rs.map(r => (r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq)
      }
    } else {
      // aggregated: group rows by grouping-tag values. Under
      // collectSeriesKeys the collected set also carries one roster row
      // per group (ts = null, skeys_ = member keys) — peel those off
      // before value grouping.
      val tagCols = sub.groupByTags.map(k => s"tag_$k")
      val collected = cappedCollect(df, maxDps)
      val (rosterRows, rows) =
        if (df.columns.contains("skeys_"))
          collected.partition(r => r.isNullAt(r.fieldIndex("ts")))
        else (Array.empty[org.apache.spark.sql.Row], collected)
      val seriesTags: Seq[Map[String, String]] = opt.seriesIndex match {
        case Some(index) =>
          // the series set the planner selected, resolved the same way on
          // the driver: no Spark job over the store's local catalog
          Planner.matchingSeries(index, sub).map(tagsOfKey)
        case None =>
          rosterRows.iterator
            .flatMap(_.getAs[scala.collection.Seq[String]]("skeys_"))
            .toSeq.distinct.map(tagsOfKey)
      }
      rows.groupBy(r => tagCols.map(c => Option(r.getAs[String](c)).getOrElse("")))
        .toSeq.sortBy(_._1.mkString(","))
        .map { case (tagVals, rs) =>
          val groupFilter = sub.groupByTags.zip(tagVals).toMap
          val members = seriesTags.filter(t =>
            groupFilter.forall { case (k, v) => t.getOrElse(k, "") == v })
          val (tags, aggTags) = mergeTags(members, sub.groupByTags.toSet)
          ResultSet(sub.metric, tags, aggTags,
            rs.map(r => (r.getAs[Long]("ts"), r.getAs[Double]("value")))
              .sortBy(_._1).toSeq)
        }
    }
  }

  /** Driver-side inverse of [[Dp.seriesKey]] (`metric,k=v,...`).
    * Fragments without `=` (a comma inside an unvalidated tag value
    * split the key) are dropped — same degraded map as
    * [[Dp.tagsFromKey]], never a crash.
    */
  private def tagsOfKey(skey: String): Map[String, String] =
    skey.split(",").iterator.drop(1).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i < 0) None else Some(kv.substring(0, i) -> kv.substring(i + 1))
    }.toMap

  /** `GET /api/search/lookup` codec — the full LOOKUP response shape
    * (reference query.cpp:1477-1602): `m=<metric>{tag=value,...}` with
    * the full filter grammar in values; `totalResults` counts all
    * matches regardless of paging; the canonical skey stands in for the
    * binary tsuid. Pass `index` (a maintained (skey, metric, tags)
    * series table) to answer from the dim table without touching fact
    * data — the 100 TB path.
    */
  def lookup(dp: DataFrame, m: String, limit: Int = 25, startIndex: Int = 0,
      index: Option[DataFrame] = None): String = {
    val (metric, tags) = Meta.parseLookupM(m)
    val total = index match {
      case Some(ix) =>
        ix.filter(col("metric") === metric)
          .filter(graft.query.TagFilters.compileAll(col("tags"), tags))
          .count()
      case None => Meta.lookupCount(dp, metric, tags)
    }
    val page = (index match {
      case Some(ix) => Meta.lookupFromIndex(ix, metric, tags, limit, startIndex)
      case None => Meta.lookupSeries(dp, metric, tags, limit, startIndex)
    }).withColumn("rtags", Dp.tagsFromKey(col("skey"))).collect()
    val results = page.map { r =>
      val skey = r.getString(0)
      val tmap = r.getAs[Map[String, String]]("rtags")
      val tjson = tmap.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      s"""{"tsuid":"$skey","metric":"$metric","tags":{$tjson}}"""
    }.mkString(",")
    s"""{"type":"LOOKUP","metric":"$metric","limit":$limit,""" +
      s""""startIndex":$startIndex,"totalResults":$total,"results":[$results]}"""
  }

  /** Reference JSON shape (`QueryResults::to_json`, query.cpp:1767-1796):
    * `%.16lf` with trailing zeros trimmed, NaN→"NaN", Inf→"Inf",
    * timestamps in seconds unless msResolution.
    */
  def toJson(rs: ResultSet, msResolution: Boolean): String = {
    val sb = new StringBuilder
    sb.append("{\"metric\":\"").append(rs.metric).append("\",\"tags\":{")
    sb.append(rs.tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString(","))
    sb.append("},\"aggregateTags\":[")
    sb.append(rs.aggregateTags.map(t => s""""$t"""").mkString(","))
    sb.append("],\"dps\":{")
    sb.append(rs.dps.map { case (ts, v) =>
      val t = if (msResolution) ts else ts / 1000
      val vs =
        if (v.isNaN) "\"NaN\""
        else if (v.isInfinity) "\"Inf\""
        else trimZeros(f"$v%.16f")
      s""""$t":$vs"""
    }.mkString(","))
    sb.append("}}")
    sb.result()
  }

  private def trimZeros(s: String): String = {
    var end = s.length
    while (end > 1 && s.charAt(end - 1) == '0' && s.charAt(end - 2) != '.') end -= 1
    s.substring(0, end)
  }
}
