package graft.query

import graft.functions.GraftFunctions
import graft.model.{Dp, SubQuery, TsQuery}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** QuerySpec → DataFrame pipeline — the Spark equivalent of the
  * reference's whole query engine (`src/core/query.cpp`). Catalyst is the
  * analyzer/optimizer; this is the ~200-line declarative "planner"
  * (SURVEY.md §3.1):
  *
  *   source.filter(time ∧ metric ∧ series)    — partition/rowgroup pruning;
  *                                               series = a literal key set
  *                                               resolved on the driver from
  *                                               an index, else tag predicates
  *    .dedup(last-wins by seq)                — `query_with_ooo`, query.cpp:722-803
  *    .downsample(bucket agg per series)      — src/agg/down.cpp
  *    .fill(bucket spine left-join)           — down.cpp:248-311
  *    .aggAcrossSeries(groupBy bucket+tags)   — src/agg/aggregate.cpp:158-215
  *    .rate(lag window)                       — src/agg/rate.cpp:38-92
  *
  * Input dp schema: (metric STRING, tags MAP, ts LONG epoch-ms,
  * value DOUBLE, seq LONG). Output: `ts` (epoch ms), `value`, plus `skey`
  * + `tags` (per-series results) or the grouping tag columns (aggregated
  * results).
  *
  * Scale notes: in the parallel plan every stage is a hash aggregation or
  * window over keys that include the series key — partial aggregation
  * (map-side combine) applies to dedup (max_by) and every downsample fn
  * except percentile; nothing collects to the driver.
  *
  * Small inputs run in one partition. Each query decides once, from the
  * estimated size of what it reads: the analyzed `sizeInBytes` of its dp
  * frame plus, when routed, its rollup source ([[estimatedBytes]]; for a
  * file scan, the listed files' bytes: no job, no footer read). At or
  * below [[SmallInputBytes]] a `coalesce(1)` sits right above each scan
  * and its filters, which still push down through it. One partition
  * satisfies every aggregate, window and sort, so the plan has no
  * exchange, and its joins hash in place instead of broadcasting: the
  * answer is one job of one task, where each shuffle stage would be a
  * job of its own. Larger inputs keep the parallel plan above. The bound
  * sits between the largest served query's input (about 0.58 MB: two
  * compacted days of 160 series plus the live day) and the sf0.1 event
  * view (2.35 MB); SCALING.md has the measurements.
  */
object Planner {

  /** Planner options.
    *
    *   - `dedup=false` skips the last-wins stage (one less shuffle) when
    *     the source is known duplicate-free — the common case for
    *     immutable batch-loaded data.
    *   - `seriesIndex` is the index-scan path (reference
    *     `Tsdb::query_for_ts`, `src/core/tsdb.cpp:1586-1609`): a
    *     (skey, metric, tags) dimension table covering the source's
    *     series (the store's driver-resident catalog, or
    *     [[Meta.seriesTable]]). The sub-query's tag predicates run on it
    *     ON THE DRIVER ([[matchingSeries]]: a filter + collect, which a
    *     local index such as the store's answers without a Spark job),
    *     and a source that stores `skey` is then filtered with the
    *     resolved keys as a literal set — no per-row regex/map probing and
    *     no broadcast job. A source that derives `skey` keeps its per-row
    *     tag predicates (comparing a derived key would cost more than the
    *     predicates it replaces); the index then serves first/last's rank.
    *     Results are identical either way.
    *   - `approxPercentileAccuracy`: opt-in sketch percentiles for
    *     cross-series pNN over unbounded series counts (see
    *     [[GraftFunctions.aggFor]]); None = exact reference semantics.
    *   - `rollup1h`/`rollup1d`/`oooMarks`: materialized rollup tables and
    *     the maintained invalidation frame. When `rollup1h` is set, the
    *     API layer executes eligible queries through [[planRouted]], which
    *     collects the marks of the query's series and days on the driver
    *     (no job over the store's local snapshot) and applies them as
    *     literal predicates.
    *   - `collectSeriesKeys`: aggregated results additionally carry a
    *     `skeys_` column = the sorted distinct member series keys of each
    *     output row. Lets the API layer answer "which series fed this
    *     group" (aggregateTags) from the SAME plan instead of a second
    *     fact scan; partial collect_set dedups map-side, so the extra
    *     shuffle weight is bounded by series cardinality per group.
    */
  final case class Options(
      dedup: Boolean = true,
      seriesIndex: Option[DataFrame] = None,
      approxPercentileAccuracy: Option[Int] = None,
      rollup1h: Option[DataFrame] = None,
      rollup1d: Option[DataFrame] = None,
      oooMarks: Option[DataFrame] = None,
      collectSeriesKeys: Boolean = false,
      // Exact pNN buffers every value of a downsample bucket
      // (collect_list): fine when the bucket spans minutes-to-hours of
      // one series, an executor-memory risk when it spans months —
      // `0all-p99` over a year of raw dps holds the year in one group.
      // Buckets whose TIME SPAN reaches this threshold (the `0all`
      // bucket spans the whole query range) route pNN to Spark's
      // mergeable percentile_approx sketch at `percentileSketchAccuracy`
      // instead. Default = never: exact is the reference-bit-for-bit
      // oracle semantics; deployments set e.g. 7 days.
      percentileSketchBucketMs: Long = Long.MaxValue,
      percentileSketchAccuracy: Int = 10000)

  /** Inputs estimated at or below this many bytes plan in one partition
    * (see Scale notes above).
    */
  val SmallInputBytes: Long = 1L << 20

  /** A planner input's estimated size: its analyzed plan's `sizeInBytes`.
    * For a file scan that is the size of the files its index listed when
    * the read resolved, so the estimate runs no job and reads no footer.
    */
  private[graft] def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  private def isSmall(inputs: DataFrame*): Boolean =
    inputs.map(estimatedBytes).sum <= SmallInputBytes

  /** Plan one sub-query against a dp DataFrame. */
  def planSub(
      dp: DataFrame,
      q: TsQuery,
      sub: SubQuery,
      opt: Options = Options()): DataFrame =
    planSub(dp, q, sub, opt, small = isSmall(dp))

  /** [[planSub]] with the one-partition decision given: `small` plans
    * the whole sub-query in one partition from the scan up.
    */
  private[graft] def planSub(
      dp: DataFrame,
      q: TsQuery,
      sub: SubQuery,
      opt: Options,
      small: Boolean): DataFrame = {
    def onePartition(df: DataFrame) = if (small) df.coalesce(1) else df

    val dsOpt = sub.downsample.map(Downsample.parse).filter(_.func != "none")

    // ---- 1. scan range: stepped-up start, end expanded to cover the full
    // last bucket (down.h:76-82, query.cpp:1020-1030)
    val (scanStart, scanEnd) = dsOpt match {
      case Some(ds) if !ds.isAll =>
        val i = ds.intervalMs
        (ds.stepUp(q.startMs), q.endMs - math.floorMod(q.endMs, i) + i - 1)
      case _ => (q.startMs, q.endMs)
    }

    // ---- 2. predicate pushdown: time ∧ metric ∧ tag filters. With a
    // series index the matching keys resolve on the driver (lazily: a
    // source that derives skey needs them only for first/last's rank)
    lazy val keys = opt.seriesIndex.map(matchingSeries(_, sub))
    var df = onePartition(
      selectSeries(dp.filter(col("ts").between(scanStart, scanEnd)), sub, keys))

    // ---- 3. last-wins dedup (seq = ingest order). max_by gets map-side
    // partial aggregation, so duplicates collapse before the shuffle.
    // The tags map is deliberately NOT carried through any aggregation —
    // skey encodes it canonically and Dp.tagsFromKey re-derives it at the
    // output edge; a MapType aggregate would force SortAggregate (maps
    // have no mutable hash buffer) and kill map-side combine.
    if (opt.dedup)
      df = df
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))

    // ---- 4. per-series downsample
    dsOpt.foreach { ds =>
      val bucket =
        if (ds.isAll) lit(q.startMs)
        else col("ts") - pmod(col("ts"), lit(ds.intervalMs))
      // big-bucket pNN routes to the sketch (see Options doc): the
      // bucket's time span is the statically-plannable proxy for its
      // row count at any fixed ingest cadence
      val bucketSpanMs = if (ds.isAll) q.endMs - q.startMs else ds.intervalMs
      val dsAcc =
        if (bucketSpanMs >= opt.percentileSketchBucketMs)
          Some(opt.percentileSketchAccuracy)
        else None
      df = df
        .withColumn("bucket", bucket)
        .groupBy(col("skey"), col("bucket"))
        .agg(GraftFunctions.aggFor(ds.func, col("value"), col("ts"), dsAcc)
          .as("value"))
        .withColumnRenamed("bucket", "ts")

      // ---- 5. gap fill on the bucket spine [stepUp(start), lastBucket]
      // (fill_if_needed, down.cpp:280-311); filled points are real rows and
      // participate in the cross-series aggregation (query.cpp step 6→7).
      ds.fill match {
        case FillPolicy.None => ()
        // a window that holds no bucket boundary scans nothing and has
        // no spine to fill (an empty `sequence` range fails to fold)
        case f if !ds.isAll && scanStart <= scanEnd =>
          val i = ds.intervalMs
          val spineStart = ds.stepUp(q.startMs)
          val lastBucket = q.endMs - math.floorMod(q.endMs, i)
          val spine = df
            .select("skey").distinct()
            .withColumn(
              "ts",
              explode(sequence(lit(spineStart), lit(lastBucket), lit(i))))
          // the spine's other side passes the broadcast threshold; in
          // one partition a hash join needs neither exchange nor job
          val values = df.select("skey", "ts", "value")
          val joined = spine
            .join(if (small) values.hint("shuffle_hash") else values,
              Seq("skey", "ts"), "left")
          // zero/nan substitute a value; null leaves the gap row's NULL
          df = f.valueOrNull match {
            case Some(fv) => joined.withColumn("value", coalesce(col("value"), lit(fv)))
            case None => joined
          }
        case _ => ()
      }
    }

    // ---- 6. cross-series aggregation at each timestamp, grouped by the
    // queried grouping-tag values (aggregate.cpp:158-215; grouping rules
    // query.cpp:505-554)
    val groupCols =
      sub.groupByTags.map(k => Dp.tagFromKey(col("skey"), k).as(s"tag_$k"))
    val out = sub.aggregator match {
      case "none" =>
        df.select(col("skey"), Dp.tagsFromKey(col("skey")).as("tags"),
          col("ts"), col("value"))

      case TopBottom(dir, n) =>
        // rank whole series by max (top) / min (bottom) of each series'
        // last 3 dps; keep N series' rows unaggregated
        // (aggregate.cpp:236-260, include/query.h:265-279,
        // query.cpp:858-884). The reference's heap order is unstable on
        // ties; we tiebreak by skey for determinism.
        val recency = Window.partitionBy(col("skey")).orderBy(col("ts").desc)
        val last3 = df
          .withColumn("rn", row_number().over(recency))
          .filter(col("rn") <= 3)
        val score = last3
          .groupBy(col("skey"))
          .agg((if (dir == "top") max(col("value")) else min(col("value"))).as("score"))
        val keep = score
          .orderBy(if (dir == "top") col("score").desc else col("score").asc, col("skey"))
          .limit(n)
          .select("skey")
        df.join(if (small) keep.hint("shuffle_hash") else broadcast(keep),
            Seq("skey"), "left_semi")
          .select(col("skey"), Dp.tagsFromKey(col("skey")).as("tags"),
            col("ts"), col("value"))

      case agg =>
        // order column is skey, not ts: rows in a cross-series group share
        // the timestamp, so first/last mean "first/last series" — the
        // reference walks series in creation order (aggregate.cpp:218-233);
        // we define canonical skey order for determinism.
        //
        // With a series index (r17), first/last order by the skey's RANK
        // in the resolved key set instead of the skey string: a
        // min_by/max_by whose ordering column is a string has an
        // immutable aggregation buffer, so Spark falls back from hash to
        // SortAggregate — a per-partition sort of the whole downsampled
        // frame with no cheap map-side combine. Ranked by a long, the
        // same aggregation is a map-side-combinable HashAggregate. The
        // keys are sorted, so rank order == skey order and results are
        // identical; the rank is the key's position in that literal
        // array (a linear probe per downsampled row, over the series one
        // query selects).
        val ordCol = keys match {
          case Some(ks) if agg == "first" || agg == "last" =>
            array_position(typedLit(ks), col("skey"))
          case _ => col("skey")
        }
        val valueAgg = GraftFunctions.aggFor(agg, col("value"), ordCol,
          opt.approxPercentileAccuracy).as("value")
        val grouped = df.groupBy(col("ts") +: groupCols: _*)
        if (opt.collectSeriesKeys) {
          // member rosters ride along as ONE extra row per result group
          // (ts = null), not an array on every timestamp row — the
          // collected response stays O(rows + cardinality) instead of
          // O(rows × members). The roster branch is a distinct over the
          // skey column alone (column pruning drops value/seq/ts from
          // its scan — verified in ApiSpec), so the extra pass is a
          // single-column read, not a second full fact scan.
          val values = grouped.agg(valueAgg)
            .withColumn("skeys_", lit(null).cast("array<string>"))
          val roster = df
            .groupBy(groupCols: _*)
            .agg(sort_array(collect_set(col("skey"))).as("skeys_"))
            .withColumn("ts", lit(null).cast("long"))
            .withColumn("value", lit(null).cast("double"))
          onePartition(values.unionByName(roster.select(values.columns.map(col): _*)))
        } else grouped.agg(valueAgg)
    }

    // ---- 7. rate conversion, applied after aggregation per result group
    // (query.cpp:470-491, rate.cpp:38-92). Roster rows (null ts) carry no
    // values and must not feed the per-group delta windows.
    if (sub.rate) {
      if (out.columns.contains("skeys_")) {
        val rated = rate(out.filter(col("ts").isNotNull), sub,
          groupKeysOf(out))
        onePartition(rated.unionByName(out.filter(col("ts").isNull)))
      } else rate(out, sub, groupKeysOf(out))
    } else out
  }

  /** Routed execution — the reference's `QuerySuperTask` lifecycle
    * (`src/core/query.cpp:1240-1305`) as one entry point: decide
    * raw vs rollup_1h vs rollup_1d ([[Rollup.route]]), snap the
    * downsample interval to the rollup grid ([[Rollup.snap]]), honor the
    * per-slice OOO invalidation marks (raw recompute for dirty slices),
    * then run the rest of the pipeline (cross-series agg, rate) on the
    * downsampled series exactly as the raw path would.
    *
    * `opt.rollup1h` is the materialized hourly table (required for
    * routing — absent, everything runs raw); `opt.rollup1d` the daily
    * one (derived from hourly when absent); `opt.oooMarks` the
    * maintained `(skey, day)` invalidation frame (None ⇒ derived here
    * over the query's full day span — a witness for an out-of-order
    * point can sit anywhere in its day slice, so the derivation must
    * not be clipped to the query window). Queries whose downsample has
    * no rollup form (dev, first, last, pNN), sub-hour intervals, and
    * `rollupUsage=Raw` all fall through to the raw path untouched.
    */
  def planRouted(
      dp: DataFrame,
      q: TsQuery,
      sub: SubQuery,
      opt: Options): DataFrame =
    planRouted(dp, q, sub, opt, force = None)

  /** [[planRouted]] with the one-partition decision forced when `force`
    * is set; None decides from the inputs' estimated size.
    */
  private[graft] def planRouted(
      dp: DataFrame,
      q: TsQuery,
      sub: SubQuery,
      opt: Options,
      force: Option[Boolean]): DataFrame = {
    import graft.rollup.Rollup
    val dsOpt = sub.downsample.map(Downsample.parse).filter(_.func != "none")
    val routedLevel =
      if (opt.rollup1h.isEmpty) None else Rollup.route(dsOpt, sub.rollupUsage)
    routedLevel match {
      case None => planSub(dp, q, sub, opt, force.getOrElse(isSmall(dp)))
      case Some(level) =>
        val ds = dsOpt.get
        val snapped = Rollup.snap(ds.intervalMs, level)
        val source =
          if (level == Rollup.DayMs)
            opt.rollup1d.getOrElse(Rollup.rollup1d(opt.rollup1h.get))
          else opt.rollup1h.get
        val small = force.getOrElse(isSmall(dp, source))
        def onePartition(df: DataFrame) = if (small) df.coalesce(1) else df
        val scanEnd = q.endMs - math.floorMod(q.endMs, snapped) + snapped - 1

        // series selection, shared by the raw and rollup sides: with an
        // index, the keys resolve on the driver once and both sides filter
        // on their stored skey; otherwise per-row predicates (key-derived
        // columns on the rollup side, which carries skey only)
        val keys = opt.seriesIndex.map(matchingSeries(_, sub))
        val raw = onePartition(selectSeries(dp, sub, keys)
          .filter(col("ts").between(q.startMs, scanEnd)))
        val rolled = onePartition((keys match {
          case Some(ks) => source.filter(keyIn(ks))
          case None => source
            .filter(Dp.metricFromKey(col("skey")) === sub.metric)
            .filter(TagFilters.compileAll(Dp.tagsFromKey(col("skey")),
              sub.tags, sub.explicitTags))
        }).filter(col("wts").between(q.startMs, scanEnd)))
        // marks cover WHOLE day slices intersecting the range: an OOO
        // point's earlier-ingested witness may lie outside the query
        // window but inside the slice
        val dayLo = q.startMs - math.floorMod(q.startMs, Rollup.DayMs)
        val dayHi = scanEnd - math.floorMod(scanEnd, Rollup.DayMs) +
          Rollup.DayMs - 1
        val series = opt.oooMarks match {
          // maintained marks resolve on the driver to the query's series
          // and days, and join as literals
          case Some(m) =>
            val resolved = (keys match {
              case Some(ks) => m.filter(keyIn(ks))
              case None => m
            }).filter(col("day").between(dayLo, dayHi))
              .select("skey", "day").collect()
              .map(r => (r.getString(0), r.getLong(1))).toSeq
            Rollup.downsampleWithFallback(raw, rolled, resolved, snapped, ds.func, small)
          case None =>
            val derived = Rollup.oooSlices(onePartition(
              selectSeries(dp, sub, keys).filter(col("ts").between(dayLo, dayHi))))
            Rollup.downsampleWithFallback(raw, rolled, derived, snapped, ds.func, small)
        }
        // hand the per-series buckets to the shared pipeline tail (fill,
        // cross-series aggregation, rate): an identity re-downsample at
        // the snapped interval — values sit exactly on the bucket grid,
        // so `last` is a no-op — carries the original fill policy through
        val fillSuffix = ds.fill match {
          case FillPolicy.NaN => "-nan"
          case FillPolicy.Null => "-null"
          case FillPolicy.Zero => "-zero"
          case FillPolicy.None => ""
        }
        // series selection already happened above — the tail must not
        // re-filter (explicitTags against the cleared tag map would
        // reject everything)
        val tail = sub.copy(
          downsample = Some(s"${snapped}ms-last$fillSuffix"),
          tags = Map.empty,
          explicitTags = false)
        planSub(
          series.withColumn("metric", lit(sub.metric))
            .withColumn("tags", Dp.tagsFromKey(col("skey")))
            .withColumn("seq", lit(0L)),
          q,
          tail,
          opt.copy(dedup = false, seriesIndex = None, rollup1h = None),
          small)
    }
  }

  /** The series a sub-query selects, resolved on the driver from a
    * (skey, metric, tags) index: sorted, distinct. Filter + collect only,
    * so a local index (the store's catalog) answers without a Spark job
    * — an aggregate here would launch one.
    */
  def matchingSeries(index: DataFrame, sub: SubQuery): Seq[String] =
    index
      .filter(col("metric") === sub.metric)
      .filter(TagFilters.compileAll(col("tags"), sub.tags, sub.explicitTags))
      .select(col("skey")).collect()
      .map(_.getString(0)).distinct.sorted.toSeq

  /** Membership in a resolved key set, as a literal predicate (a hash
    * InSet past a handful of keys); an empty set is a constant false the
    * optimizer folds to an empty relation.
    */
  private def keyIn(keys: Seq[String]): Column =
    if (keys.isEmpty) lit(false) else col("skey").isin(keys: _*)

  /** Series selection over a dp frame. With resolved keys, a frame that
    * stores skey filters on it with the literal set. Otherwise the tag
    * predicates run per row and the key is derived once for the rows
    * that pass: a literal predicate on a DERIVED key would be pushed
    * below its projection and evaluate [[Dp.seriesKey]] per row more
    * than once, costing more than the predicates it replaces.
    */
  private def selectSeries(dp: DataFrame, sub: SubQuery,
      keys: => Option[Seq[String]]): DataFrame = {
    val ofMetric = dp.filter(col("metric") === sub.metric)
    if (dp.columns.contains("skey") && keys.isDefined) ofMetric.filter(keyIn(keys.get))
    else Dp.ensureSeriesKey(ofMetric
      .filter(TagFilters.compileAll(col("tags"), sub.tags, sub.explicitTags)))
  }

  private val TopBottomRe = """(top|bottom)([1-9])""".r
  private object TopBottom {
    def unapply(s: String): Option[(String, Int)] = s match {
      case TopBottomRe(d, n) => Some((d, n.toInt))
      case _ => None
    }
  }

  private def groupKeysOf(df: DataFrame): Seq[Column] =
    df.columns.filter(c => c == "skey" || c.startsWith("tag_")).map(col).toSeq

  /** `(v1-v0)/Δt_secs`, first point dropped, stamped at t1; counter wrap
    * `counterMax - v0 + v1`; `resetValue` → 0; `dropResets` removes the
    * wrapped sample but it still serves as the next base (exactly the
    * reference's loop: rate.cpp:47-92).
    */
  private def rate(df: DataFrame, sub: SubQuery, keys: Seq[Column]): DataFrame = {
    val ro = sub.rateOptions
    val w = Window.partitionBy(keys: _*).orderBy(col("ts"))
    // materialize the lags first — window expressions can't appear in filters
    val lagged = df
      .withColumn("v0_", lag(col("value"), 1).over(w))
      .withColumn("t0_", lag(col("ts"), 1).over(w))
    val v0 = col("v0_")
    val dtSecs = (col("ts") - col("t0_")).cast("double") / 1000.0
    val dv = col("value") - v0
    val wrapped = (lit(ro.counterMax).cast("double") - v0 + col("value")) / dtSecs
    val wrappedOrReset =
      if (ro.resetValue != 0L)
        when(wrapped > lit(ro.resetValue.toDouble), 0.0).otherwise(wrapped)
      else wrapped
    val rateCol =
      if (ro.counter) when(dv < 0, wrappedOrReset).otherwise(dv / dtSecs)
      else dv / dtSecs
    var out = lagged.withColumn("rate_", when(v0.isNotNull, rateCol))
    if (ro.counter && ro.dropResets)
      out = out.filter(v0.isNull || dv >= 0)
    out
      .filter(col("rate_").isNotNull)
      .withColumn("value", col("rate_"))
      .drop("rate_", "v0_", "t0_")
  }
}
