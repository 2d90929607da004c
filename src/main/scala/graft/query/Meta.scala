package graft.query

import graft.model.Dp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Series/metric metadata queries — the `/api/suggest` and
  * `/api/search/lookup` surface (reference `src/core/tsdb.cpp:2595-2713`,
  * `src/core/query.cpp:1477-1602`). The series "registry" is implicit:
  * `SELECT DISTINCT metric/tags` — at scale, a maintained dimension table
  * would serve these, but the queries are identical.
  */
object Meta {

  /** Sorted metric names with prefix, capped (default max 1000 —
    * config `tsdb.suggest.max`, tsdb.cpp:2619-2624). A lone `*` is
    * match-all for metrics only (`is_star`, tsdb.cpp:2631-2646).
    */
  def suggestMetrics(dp: DataFrame, prefix: String, max: Int = 1000): DataFrame =
    dp.select(col("metric"))
      .filter(if (prefix == "*") lit(true) else col("metric").startsWith(prefix))
      .distinct()
      .orderBy(col("metric"))
      .limit(max)

  /** Sorted distinct tag KEYS across all series with prefix, capped
    * (`type=tagk`, tsdb.cpp:2648-2673). Note `metrics` treats a lone `*`
    * as match-all but tagk/tagv don't — replicated.
    */
  def suggestTagKeys(dp: DataFrame, prefix: String, max: Int = 1000): DataFrame =
    dp.select(explode(map_keys(col("tags"))).as("tagk"))
      .filter(col("tagk").startsWith(prefix))
      .distinct()
      .orderBy(col("tagk"))
      .limit(max)

  /** Sorted distinct tag VALUES across all series with prefix, capped
    * (`type=tagv`, tsdb.cpp:2675-2699).
    */
  def suggestTagValues(dp: DataFrame, prefix: String, max: Int = 1000): DataFrame =
    dp.select(explode(map_values(col("tags"))).as("tagv"))
      .filter(col("tagv").startsWith(prefix))
      .distinct()
      .orderBy(col("tagv"))
      .limit(max)

  /** `GET /api/aggregators` — the supported cross-series aggregator
    * names, sorted (reference list `src/agg/aggregate.cpp:33-36`).
    */
  val aggregators: Seq[String] = Seq(
    "avg", "bottom1", "bottom3", "bottom5", "bottom9", "count", "dev",
    "first", "last", "max", "min", "none", "p50", "p90", "p95", "p98",
    "p99", "p999", "sum", "top1", "top3", "top5", "top9")

  def aggregatorsDf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    aggregators.toDF("aggregator").orderBy("aggregator")
  }

  /** The series dimension table: one row per distinct series —
    * (skey, metric, tags). The Spark analog of the reference's per-metric
    * series index (`g_metric_map` + `Mapping`, `src/core/tsdb.cpp:
    * 1586-1609`). At 100 TB this is maintained incrementally (it is tiny
    * next to the fact data: cardinality = #series, not #points) and
    * serves suggest/lookup AND the planner's index-scan path
    * ([[graft.query.Planner.Options.seriesIndex]]).
    */
  def seriesTable(dp: DataFrame): DataFrame =
    Dp.withSeriesKey(dp)
      .groupBy(col("skey"))
      .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"))
  // first(real columns), NOT Dp.tagsFromKey(skey): the index keeps each
  // series' tag map as ingested (the key's inverse degrades values that
  // hold a comma). first(MapType) costs a SortAggregate, but only in this
  // derivation (maintained incrementally at scale), never in a query.

  /** Parse the lookup `m` param: `metric{tag=value,...}`, tag block
    * optional (reference lookup parse, query.cpp:1511-1540). Values may
    * use the full [[TagFilters]] grammar — pair-separating commas are
    * only those at paren/brace depth 0, so `regexp(h{1,3})` survives.
    */
  def parseLookupM(m: String): (String, Map[String, String]) = {
    val brace = m.indexOf('{')
    if (brace < 0) (m.trim, Map.empty)
    else {
      val metric = m.substring(0, brace).trim
      val close = m.lastIndexOf('}')
      val inner = m.substring(brace + 1, if (close > brace) close else m.length)
      val parts = Seq.newBuilder[String]
      var depth = 0
      var start = 0
      inner.zipWithIndex.foreach { case (c, i) =>
        c match {
          case '(' | '{' => depth += 1
          case ')' | '}' => depth -= 1
          case ',' if depth == 0 =>
            parts += inner.substring(start, i); start = i + 1
          case _ => ()
        }
      }
      parts += inner.substring(start)
      val tags = parts.result().filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i).trim -> kv.substring(i + 1).trim
      }.toMap
      (metric, tags)
    }
  }

  /** Distinct matching series keys (unpaged) — shared by the paged
    * lookup and its totalResults count. Prefer passing a maintained
    * series index (skey, metric, tags) as `dp`-like source via
    * [[lookupFromIndex]]: the question is then answered on the tiny dim
    * table without touching fact data.
    */
  private def matchedSeries(dp: DataFrame, metric: String,
      tags: Map[String, String]): DataFrame =
    Dp.withSeriesKey(
        dp.filter(col("metric") === metric)
          .filter(TagFilters.compileAll(col("tags"), tags)))
      .select(col("skey"))
      .distinct()

  /** Series lookup with tag-filter predicates and limit/offset paging
    * (default limit 25 — query.cpp:1486-1494, 1571-1576). Ordered by
    * series key for stable paging (the reference sorts result sets by
    * tag list).
    */
  def lookupSeries(dp: DataFrame, metric: String,
      tags: Map[String, String] = Map.empty,
      limit: Int = 25, offset: Int = 0): DataFrame =
    matchedSeries(dp, metric, tags)
      .orderBy(col("skey"))
      .offset(offset)
      .limit(limit)

  /** Total matching series regardless of paging (`totalResults`,
    * query.cpp:1594).
    */
  def lookupCount(dp: DataFrame, metric: String,
      tags: Map[String, String] = Map.empty): Long =
    matchedSeries(dp, metric, tags).count()

  /** Lookup answered from a maintained (skey, metric, tags) series index
    * — identical results to [[lookupSeries]] over raw data, but the scan
    * is the dim table (cardinality = #series, not #points).
    */
  def lookupFromIndex(index: DataFrame, metric: String,
      tags: Map[String, String] = Map.empty,
      limit: Int = 25, offset: Int = 0): DataFrame =
    index
      .filter(col("metric") === metric)
      .filter(TagFilters.compileAll(col("tags"), tags))
      .select(col("skey"))
      .orderBy(col("skey"))
      .offset(offset)
      .limit(limit)
}
