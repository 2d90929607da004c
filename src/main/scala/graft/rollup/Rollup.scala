package graft.rollup

import graft.model.{Dp, RollupUsage}
import graft.query.Downsample
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized rollup aggregates — the Spark equivalent of the
  * reference's write-time hourly accumulators and background daily rollup
  * (`src/agg/rollup.cpp:180-286`, `src/core/tsdb.cpp:3661+`). Schema per
  * (series, window): `{cnt, min, max, sum}` (reference
  * `include/mmap.h:243-250`).
  *
  * At scale these are separate Parquet/Delta tables maintained by the
  * streaming job (see graft.streaming); here they're also derivable
  * on-demand for batch sources.
  */
object Rollup {

  val HourMs: Long = 3600000L // g_rollup_interval_1h, src/global.cpp:57
  val DayMs: Long = 86400000L // g_rollup_interval_1d, src/global.cpp:58

  /** Hourly rollup from a raw dp frame (metric, tags, ts, value, seq).
    * One hash aggregation; partial (map-side) combine applies to all four
    * accumulators, so at 100 TB this shuffles only (series × hours) rows.
    */
  def rollup1h(dp: DataFrame): DataFrame =
    rollup1hKeyed(Dp.withSeriesKey(dp))

  /** Hourly rollup over a frame that already carries `skey`. */
  def rollup1hKeyed(dp: DataFrame): DataFrame =
    dp
      .groupBy(
        col("skey"),
        (col("ts") - pmod(col("ts"), lit(HourMs))).as("wts"))
      .agg(
        count(col("value")).as("cnt"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        sum(col("value")).as("sum"))

  /** Daily (level-2) rollup from the hourly one — sum of sums, sum of
    * cnts, min of mins, max of maxes (`src/agg/rollup.cpp:385-415`).
    */
  def rollup1d(r1h: DataFrame): DataFrame =
    r1h
      .groupBy(
        col("skey"),
        (col("wts") - pmod(col("wts"), lit(DayMs))).as("wts"))
      .agg(
        sum(col("cnt")).as("cnt"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        sum(col("sum")).as("sum"))

  /** Downsample functions that have a rollup form; dev/first/last/pNN are
    * RU_NONE and always read raw (`include/down.h:140,166,174,200`).
    */
  val rollupFuncs: Set[String] = Set("avg", "count", "max", "min", "sum")

  /** Rollup routing: use a rollup table iff the query downsamples with an
    * eligible function at an interval ≥ the rollup interval (1 d ⇒ daily)
    * — reference `use_rollup`, `src/core/query.cpp:1032-1091`. Returns the
    * chosen level's interval, or None for raw.
    */
  def route(ds: Option[Downsample], usage: RollupUsage): Option[Long] =
    usage match {
      case RollupUsage.Raw => None
      case RollupUsage.FallbackRaw =>
        ds.filter(d => !d.isAll && rollupFuncs.contains(d.func)).flatMap { d =>
          if (d.intervalMs >= DayMs) Some(DayMs)
          else if (d.intervalMs >= HourMs) Some(HourMs)
          else None
        }
    }

  /** Snap a downsample interval to the nearest multiple of the rollup
    * interval (`use_rollup` snapping, query.cpp:1070-1091).
    */
  def snap(intervalMs: Long, rollupMs: Long): Long = {
    val down = intervalMs - math.floorMod(intervalMs, rollupMs)
    if (down == 0) rollupMs else down
  }

  /** Per-(day-partition, series) OOO invalidation marks, derived from
    * ingest order: a slice's rollup is invalid once any point arrives
    * with `ts <=` an earlier-ingested point's ts in that slice, or with a
    * NaN/Inf value — exactly the conditions that route a write to the
    * reference's OOO page and set `out_of_order2` for the partition
    * (`src/core/ts.cpp:281-324`, `src/agg/rollup.cpp:214-243`,
    * `src/core/tsdb.cpp:1985-2005`). Output: distinct (skey, day).
    */
  def oooSlices(dp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("skey"), col("day")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Dp.ensureSeriesKey(dp)
      .withColumn("day", col("ts") - pmod(col("ts"), lit(DayMs)))
      .withColumn("hwm", max(col("ts")).over(w))
      .filter(
        (col("hwm").isNotNull && col("ts") <= col("hwm")) ||
          isnan(col("value")) || col("value") === Double.PositiveInfinity ||
          col("value") === Double.NegativeInfinity)
      .select(col("skey"), col("day"))
      .distinct()
  }

  /** Rollup-answered downsample with per-slice raw fallback — the mixed
    * plan of `QuerySuperTask::query_rollup_hourly`
    * (`src/core/query.cpp:1109-1160`): (series, day) slices whose rollup
    * is OOO-invalidated are recomputed from raw data (with last-wins
    * dedup, like any raw read), everything else reads the materialized
    * rollup; both halves meet as hourly entries and aggregate together.
    * `rollup` is the stored rollup_1h table, possibly missing the
    * late-arriving points that `dp` has.
    *
    * Scale shape: the marks frame is tiny (distinct invalidated slices) —
    * both the anti-join and the semi-join broadcast it; the raw recompute
    * touches only marked slices' rows.
    */
  def downsampleWithFallback(dp: DataFrame, rollup: DataFrame,
      intervalMs: Long, func: String): DataFrame =
    downsampleWithFallback(dp, rollup, oooSlices(dp), intervalMs, func, onePartition = false)

  /** Variant taking a precomputed `(skey, day)` marks frame — at scale
    * the invalidation table is maintained incrementally at ingest (the
    * reference sets `out_of_order2` on write, `src/core/ts.cpp:281-324`),
    * not re-derived per query. `onePartition`: every input already has
    * one partition (the planner's small-input plan), so the joins hash
    * in place instead of broadcasting the marks, and the merge keeps one
    * partition.
    */
  def downsampleWithFallback(dp: DataFrame, rollup: DataFrame,
      precomputedMarks: DataFrame, intervalMs: Long, func: String,
      onePartition: Boolean): DataFrame = {
    val marks =
      if (onePartition) precomputedMarks.hint("shuffle_hash")
      else broadcast(precomputedMarks)
    mergeFallback(
      withDay(rollup, "wts").join(marks, Seq("skey", "day"), "left_anti"),
      withDay(Dp.ensureSeriesKey(dp), "ts").join(marks, Seq("skey", "day"), "left_semi"),
      intervalMs, func, onePartition)
  }

  /** Variant taking marks already resolved on the driver (the store's
    * catalog, restricted to the query's series and days): membership is
    * a literal predicate, so neither side joins and no broadcast job
    * runs; with no marks the raw branch folds away at plan time.
    */
  def downsampleWithFallback(dp: DataFrame, rollup: DataFrame,
      marks: Seq[(String, Long)], intervalMs: Long, func: String,
      onePartition: Boolean): DataFrame = {
    val marked = marks.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (day, ms) => col("day") === day && col("skey").isin(ms.map(_._1).sorted: _*) }
      .reduceOption(_ || _).getOrElse(lit(false))
    mergeFallback(
      withDay(rollup, "wts").filter(!marked),
      withDay(Dp.ensureSeriesKey(dp), "ts").filter(marked),
      intervalMs, func, onePartition)
  }

  private def withDay(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("day", col(tsCol) - pmod(col(tsCol), lit(DayMs)))

  /** Clean rollup slices plus the marked slices recomputed from raw
    * (last-wins dedup at raw resolution), downsampled together. A union
    * of two one-partition inputs has two partitions, so `onePartition`
    * coalesces it back to one.
    */
  private def mergeFallback(clean: DataFrame, rawSlices: DataFrame,
      intervalMs: Long, func: String, onePartition: Boolean): DataFrame = {
    val recomputed = rawSlices
      .groupBy(col("skey"), col("ts"))
      .agg(max_by(col("value"), col("seq")).as("value"))
    val merged =
      clean.drop("day").unionByName(rollup1hKeyed(recomputed), allowMissingColumns = false)
    downsampleFromRollup(if (onePartition) merged.coalesce(1) else merged, intervalMs, func)
  }

  /** Downsample a rollup table to `intervalMs` buckets with function
    * `func` — the rollup-aware downsampler variants
    * (`down.cpp:344-373, 407-427, 531-551, 575-595, 679-699`).
    * Output matches the raw downsampler: (skey, ts, value).
    */
  def downsampleFromRollup(rollup: DataFrame, intervalMs: Long, func: String): DataFrame = {
    val agg = func match {
      case "avg" => sum(col("sum")) / sum(col("cnt"))
      case "count" => sum(col("cnt")).cast("double")
      case "max" => max(col("max"))
      case "min" => min(col("min"))
      case "sum" => sum(col("sum"))
      case other =>
        throw new IllegalArgumentException(s"no rollup form for: $other")
    }
    rollup
      .groupBy(
        col("skey"),
        (col("wts") - pmod(col("wts"), lit(intervalMs))).as("ts"))
      .agg(agg.as("value"))
  }
}
