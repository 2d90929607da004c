package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical data point — the unit of ingest and storage.
  *
  * Mirrors the reference's fundamental record: (metric, tags, timestamp,
  * double value) — see reference `include/dp.h:34-96` and
  * `include/type.h:57-60`. Two deliberate deviations, both recorded in
  * SURVEY.md §7.4:
  *
  *   - `ts` is always epoch **milliseconds** (`Long`). The reference keeps a
  *     global second/millisecond resolution switch (`src/global.cpp:49`);
  *     we normalize once at ingest and convert at the response edge.
  *   - `seq` is a monotonic ingest sequence used for last-write-wins dedup.
  *     The reference resolves duplicate timestamps by page order / OOO
  *     precedence (`src/core/query.cpp:759-803`); files have no such order,
  *     so "latest ingested wins" is carried explicitly.
  */
case class Dp(
    metric: String,
    tags: Map[String, String],
    ts: Long, // epoch millis
    value: Double,
    seq: Long)

object Dp {

  /** Columns every dp DataFrame must expose. */
  val columns: Seq[String] = Seq("metric", "tags", "ts", "value", "seq")

  /** Canonical series key: `metric,tag1=v1,tag2=v2` with tag keys sorted —
    * the same shape as the reference's per-metric mapping key
    * (`include/tsdb.h:160-163`, `";"` when tagless). Spark can't group by a
    * MapType column, so this string is the group key everywhere.
    */
  def seriesKey(metric: Column, tags: Column): Column = {
    val joined = array_join(
      transform(
        array_sort(map_entries(tags)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))),
      ",")
    // concat_ws skips nulls → tagless series key is just the metric
    concat_ws(",", metric, nullif(joined, lit("")))
  }

  /** Attach the canonical `skey` column. */
  def withSeriesKey(df: DataFrame): DataFrame =
    df.withColumn("skey", seriesKey(col("metric"), col("tags")))

  /** [[withSeriesKey]] unless the frame already carries `skey` (the
    * store's scan, the bucketed layout, a planner stage): a stored key is
    * a plain scan attribute, so keeping it spares a per-row derivation
    * and keeps any partitioning on it visible to the aggregates.
    */
  def ensureSeriesKey(df: DataFrame): DataFrame =
    if (df.columns.contains("skey")) df else withSeriesKey(df)

  /** Inverse of [[seriesKey]]: re-derive the tag map from the canonical
    * key. Exists so aggregation stages never carry a MapType column —
    * `first(tags)` forces SortAggregate (maps have no mutable hash
    * buffer), while grouping on the string `skey` and re-parsing tags
    * afterwards keeps every stage a codegen'd HashAggregate. Relies on
    * the OpenTSDB tag charset (no `,` or `=` in keys; no `,` in values —
    * reference `include/tsdb.h:160-163`).
    */
  def tagsFromKey(skey: Column): Column = {
    val parts = split(skey, ",")
    map_from_entries(
      transform(
        slice(parts, lit(2), size(parts)),
        s => {
          val kv = split(s, "=", 2)
          struct(kv.getItem(0).as("key"), kv.getItem(1).as("value"))
        }))
  }

  /** [[metricFromKey]] and [[tagsFromKey]] of one key, on the driver. */
  def parseKey(skey: String): (String, Map[String, String]) = {
    val parts = skey.split(",", -1)
    (parts.head, parts.iterator.drop(1).map { s =>
      val kv = s.split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else null)
    }.toMap)
  }

  /** One tag value from the canonical key (null when absent). */
  def tagFromKey(skey: Column, key: String): Column =
    element_at(tagsFromKey(skey), key)

  /** Metric from the canonical key. */
  def metricFromKey(skey: Column): Column =
    split(skey, ",").getItem(0)
}

/** Views deriving a dp table from the driver-provided test data
  * (TESTDATA.md). The `events` table plays the role of the ingest stream:
  * event time → ts, `value` → value, event_type → metric, low-cardinality
  * derivations of user_id → tags, event_id → seq.
  */
object DpView {

  /** Read `events.parquet`. The driver writes `ts` as a parquet TIMESTAMP
    * (micros, not UTC-adjusted), which Spark reads as TIMESTAMP_NTZ. Every
    * graft session pins `spark.sql.session.timeZone=UTC`, so [[tsMillis]]
    * below lands on the same epoch-ms instants as DuckDB's `epoch_ms(ts)`
    * (which also treats the naive value as UTC).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // ts-range predicates over the ntz→epoch-ms conversion must reach the
    // parquet scan as raw timestamp bounds (row-group pruning at scale)
    graft.plans.GraftOptimizations.install(spark)
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** Event time as epoch milliseconds (Long). `unix_millis` floor-divides
    * micros the same way DuckDB's `epoch_ms` does, so the two sides of the
    * oracle agree bit-for-bit. The NTZ→LTZ cast uses the session timezone
    * (UTC in every graft entry point); [[graft.plans.DivBoundsRule]]
    * recognizes this exact expression shape and turns epoch-ms range
    * predicates over it into pushable raw-timestamp bounds.
    */
  def tsMillis: Column = unix_millis(col("ts").cast("timestamp"))

  /** The canonical dp view used by every TSDB-shaped query and its oracle:
    *   metric = event_type
    *   tags   = host=host{user_id%5}, dc=dc{user_id%2}
    *            (+ od=od{user_id%3} only when user_id%3==0 — variable tag
    *             sets so `explicit_tags` has something to discriminate)
    *   ts     = epoch ms (floor of the event timestamp's micros)
    *   value  = value
    *   seq    = event_id
    */
  def dp(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val host = concat(lit("host"), pmod(col("user_id"), lit(5)).cast("string"))
    val dc = concat(lit("dc"), pmod(col("user_id"), lit(2)).cast("string"))
    val base = map(lit("host"), host, lit("dc"), dc)
    val tags = when(
      pmod(col("user_id"), lit(3)) === 0,
      map_concat(base, map(lit("od"), lit("od0")))).otherwise(base)
    ev.select(
      col("event_type").as("metric"),
      tags.as("tags"),
      tsMillis.as("ts"),
      col("value").as("value"),
      col("event_id").as("seq"))
  }
}
