package graft

import graft.functions.GraftFunctions
import graft.model.{Dp, RateOptions, SubQuery, TsQuery}
import graft.query.Planner
import graft.rollup.Rollup
import org.apache.spark.sql.functions._

/** Operator-level correctness against hand-computed expectations, mirroring
  * the reference's unit cases (`test/query_test.cpp`): duplicate last-wins,
  * 0all, fill, rate wrap, percentile R-6 formula, rollup ≡ raw.
  */
class PlannerSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L

  test("SparkEntry.entry returns rows (the driver's smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** 2 series ("a": host1, "b": host2), hourly-ish points over 4 hours. */
  private def dps: Seq[Dp] = {
    def mk(host: String, off: Long, vs: Seq[Double]): Seq[Dp] =
      vs.zipWithIndex.map { case (v, i) =>
        Dp("m", Map("host" -> host), i * H + off, v, i)
      }
    mk("h1", 60000L, Seq(1, 2, 3, 4)) ++ mk("h2", 120000L, Seq(10, 20, 30, 40))
  }

  private def dpDf = spark.createDataset(dps).toDF()

  test("duplicate timestamps: latest ingested (max seq) wins") {
    val dup = Dp("m", Map("host" -> "h1"), 60000L, 99.0, 100L)
    val df = spark.createDataset(dps :+ dup).toDF()
    val res = Planner
      .planSub(df, TsQuery(0, 5 * H), SubQuery("m", "none"))
      .filter($"ts" === 60000L)
      .select("value").as[Double].collect()
    assert(res.toSeq === Seq(99.0))
  }

  test("downsample 1h-avg per series") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H), SubQuery("m", "none", Some("1h-avg")))
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    assert(res.contains(("m,host=h1", 0L, 1.0)))
    assert(res.contains(("m,host=h2", 3 * H, 40.0)))
    assert(res.size === 8)
  }

  test("0all: single bucket at query start; last takes max-ts value") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H), SubQuery("m", "none", Some("0all-last")))
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    assert(res === Set(("m,host=h1", 0L, 4.0), ("m,host=h2", 0L, 40.0)))
  }

  test("cross-series sum at aligned buckets") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H),
        SubQuery("m", "sum", Some("1h-sum"), groupByTags = Nil))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    assert(res === Map(0L -> 11.0, H -> 22.0, 2 * H -> 33.0, 3 * H -> 44.0))
  }

  test("zero fill pads missing buckets and they join the cross-agg") {
    // series h1 only has data in hours 0..3; query range extends to hour 5
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H + 1800000L),
        SubQuery("m", "none", Some("1h-avg-zero"),
          tags = Map("host" -> "h1")))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    assert(res === Map(0L -> 1.0, H -> 2.0, 2 * H -> 3.0, 3 * H -> 4.0,
      4 * H -> 0.0, 5 * H -> 0.0))
  }

  test("rate: first point dropped, stamped at t1, per-second delta") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H),
        SubQuery("m", "none", Some("1h-last"), rate = true,
          tags = Map("host" -> "h2")))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    // delta 10 per hour = 10/3600 per second
    assert(res.keySet === Set(H, 2 * H, 3 * H))
    assert(math.abs(res(H) - 10.0 / 3600.0) < 1e-12)
  }

  test("rate counter wrap + resetValue→0 (rate.cpp:60-72)") {
    val pts = Seq(
      Dp("c", Map("host" -> "h"), 0L, 100.0, 0),
      Dp("c", Map("host" -> "h"), 1000L, 40.0, 1), // wrap: (128-100+40)/1 = 68
      Dp("c", Map("host" -> "h"), 2000L, 20.0, 2)) // wrap: (128-40+20)/1 = 108 > 100 → 0
    val df = spark.createDataset(pts).toDF()
    val res = Planner
      .planSub(df, TsQuery(0, 10000L),
        SubQuery("c", "none", rate = true,
          rateOptions = RateOptions(counter = true, counterMax = 128, resetValue = 100)))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    assert(res === Map(1000L -> 68.0, 2000L -> 0.0))
  }

  test("rate dropResets removes wrapped sample but keeps it as base") {
    val pts = Seq(
      Dp("c", Map("host" -> "h"), 0L, 100.0, 0),
      Dp("c", Map("host" -> "h"), 1000L, 40.0, 1), // reset → dropped
      Dp("c", Map("host" -> "h"), 2000L, 50.0, 2)) // (50-40)/1 = 10
    val df = spark.createDataset(pts).toDF()
    val res = Planner
      .planSub(df, TsQuery(0, 10000L),
        SubQuery("c", "none", rate = true,
          rateOptions = RateOptions(counter = true, dropResets = true)))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    assert(res === Map(2000L -> 10.0))
  }

  test("top2 keeps the two series with highest max of last-3 dps") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H), SubQuery("m", "top1", Some("1h-avg")))
      .select("skey").distinct().as[String].collect().toSeq
    assert(res === Seq("m,host=h2"))
    val bottom = Planner
      .planSub(dpDf, TsQuery(0, 5 * H), SubQuery("m", "bottom1", Some("1h-avg")))
      .select("skey").distinct().as[String].collect().toSeq
    assert(bottom === Seq("m,host=h1"))
  }

  test("tag filter grammar: every form compiles to the right predicate") {
    import graft.query.TagFilters
    val tagged = Seq(
      Map("host" -> "web1"), Map("host" -> "WEB2"), Map("host" -> "db1"),
      Map("host" -> "web1", "dc" -> "east"), Map("dc" -> "west"))
      .zipWithIndex.map { case (m, i) => Dp("m", m, i * 1000L, i.toDouble, i) }
    val df = spark.createDataset(tagged).toDF()
    def hosts(filter: String, explicit: Boolean = false): Set[Double] =
      df.filter(TagFilters.compileAll(col("tags"), Map("host" -> filter), explicit))
        .select("value").as[Double].collect().toSet
    assert(hosts("iliteral_or(WEB1|web2)") === Set(0.0, 1.0, 3.0))
    assert(hosts("not_literal_or(web1|db1)") === Set(1.0))
    assert(hosts("wildcard(web*)") === Set(0.0, 3.0)) // case-sensitive
    assert(hosts("web*") === Set(0.0, 3.0)) // legacy 1.x trailing-*
    assert(hosts("wildcard(*1)") === Set(0.0, 2.0, 3.0)) // suffix
    assert(hosts("wildcard(*eb*)") === Set(0.0, 3.0)) // contains
    assert(hosts("wildcard(w*1)") === Set(0.0, 3.0)) // prefix+suffix
    assert(hosts("wildcard(web1*1)") === Set()) // overlap guard: len < p+s
    assert(hosts("wildcard(d*1*)") === Set(2.0)) // ≥2 stars → regex fallback
    assert(hosts("web1|db1") === Set(0.0, 2.0, 3.0)) // legacy embedded-|
    assert(hosts("*") === Set(0.0, 1.0, 2.0, 3.0)) // key exists
    assert(hosts("web1", explicit = true) === Set(0.0)) // exactly {host}
  }

  test("nan fill: gap buckets carry NaN and survive the spine join") {
    val res = Planner
      .planSub(dpDf, TsQuery(0, 5 * H),
        SubQuery("m", "none", Some("1h-avg-nan"), tags = Map("host" -> "h1")))
      .select("ts", "value").as[(Long, Double)].collect().toMap
    assert(res.keySet === Set(0L, H, 2 * H, 3 * H, 4 * H, 5 * H))
    assert(res(3 * H) === 4.0)
    assert(res(4 * H).isNaN && res(5 * H).isNaN)
  }

  test("fill over a window that holds no bucket boundary answers empty") {
    // 1h30..3h59 holds no 4h boundary: the stepped-up start is past the
    // last bucket, so nothing is scanned and there is no spine to fill
    val res = Planner
      .planSub(dpDf, TsQuery(H + 1800000L, 4 * H - 1),
        SubQuery("m", "sum", Some("4h-avg-zero")))
    assert(res.count() === 0)
  }

  test("dedup=false skips last-wins: duplicate rows both survive") {
    val dup = Dp("m", Map("host" -> "h1"), 60000L, 99.0, 100L)
    val df = spark.createDataset(dps :+ dup).toDF()
    val res = Planner
      .planSub(df, TsQuery(0, 5 * H), SubQuery("m", "none"),
        Planner.Options(dedup = false))
      .filter($"ts" === 60000L)
      .select("value").as[Double].collect().toSet
    assert(res === Set(1.0, 99.0))
  }

  test("series-index scan path ≡ direct tag-predicate path") {
    import graft.query.Meta
    val tagged = Seq(
      Map("host" -> "web1"), Map("host" -> "WEB2"), Map("host" -> "db1"),
      Map("host" -> "web1", "dc" -> "east"), Map("dc" -> "west"))
      .zipWithIndex.flatMap { case (m, i) =>
        (0 until 3).map(j => Dp("m", m, i * 1000L + j * 100L, i + j / 10.0, i * 10 + j))
      }
    val df = spark.createDataset(tagged).toDF()
    val index = Meta.seriesTable(df)
    for (filter <- Seq("wildcard(web*)", "iliteral_or(WEB1|web2)", "*")) {
      val sub = SubQuery("m", "none", tags = Map("host" -> filter))
      def run(opt: Planner.Options) =
        Planner.planSub(df, TsQuery(0, 10000L), sub, opt)
          .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
      assert(run(Planner.Options(seriesIndex = Some(index)))
        === run(Planner.Options()), filter)
    }
  }

  test("exact percentile replicates the reference R-6 formula") {
    // reference: idx = p*(n+1); values 1..10, p50 → idx 5.5 → 5.5
    // p90 → idx 9.9 → v[8]+0.9*(v[9]-v[8]) = 9 + .9 = 9.9
    // p99 → idx 10.89 ≥ n → max = 10
    val xs = (1 to 10).map(_.toDouble)
    val df = xs.toDF("v")
    def pct(q: Double) =
      df.agg(GraftFunctions.exactPercentile(col("v"), q)).as[Double].head()
    assert(math.abs(pct(50) - 5.5) < 1e-12)
    assert(math.abs(pct(90) - 9.9) < 1e-12)
    assert(pct(99) === 10.0)
    assert(pct(999) === 10.0) // p999 normalized to 99.9
    // single value → identity
    assert(Seq(7.0).toDF("v").agg(GraftFunctions.exactPercentile(col("v"), 50))
      .as[Double].head() === 7.0)
  }

  test("approx percentile option tracks the exact cross-series p95") {
    val many = (0 until 50).flatMap(s => (0 until 4).map(i =>
      Dp("m", Map("host" -> s"h$s"), i * H, s + i / 10.0, (s * 4 + i).toLong)))
    val df = spark.createDataset(many).toDF()
    def p95(opt: Planner.Options) = Planner
      .planSub(df, TsQuery(0, 4 * H), SubQuery("m", "p95", Some("1h-avg")), opt)
      .select("ts", "value").as[(Long, Double)].collect().toMap
    val exact = p95(Planner.Options())
    val approx = p95(Planner.Options(approxPercentileAccuracy = Some(10000)))
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(v - approx(k)) < 1.0, s"@$k exact=$v approx=${approx(k)}")
    }
  }

  test("big-bucket pNN routes to the sketch at the threshold, tracks exact") {
    // 0all's single bucket spans the whole 4h query range: a threshold
    // above that keeps the exact R-6 path, one at/below it flips the
    // PLAN to the mergeable percentile_approx sketch
    def plan(opt: Planner.Options) = Planner.planSub(
      dpDf, TsQuery(0, 4 * H), SubQuery("m", "none", Some("0all-p50")), opt)
    val exactPlan = plan(Planner.Options())
    val sketchPlan = plan(Planner.Options(percentileSketchBucketMs = 4 * H))
    assert(!exactPlan.queryExecution.executedPlan.toString
      .contains("percentile_approx"), "default stays exact")
    assert(sketchPlan.queryExecution.executedPlan.toString
      .contains("percentile_approx"), "threshold flips the plan")
    // a small REGULAR bucket stays exact even with the threshold set
    val smallBucket = Planner.planSub(
      dpDf, TsQuery(0, 4 * H), SubQuery("m", "none", Some("1h-p50")),
      Planner.Options(percentileSketchBucketMs = 4 * H))
    assert(!smallBucket.queryExecution.executedPlan.toString
      .contains("percentile_approx"), "1h bucket < threshold stays exact")
    // and the sketch tracks the exact values on the fixture: the sketch
    // returns an actual sample while R-6 interpolates BETWEEN samples,
    // so the bound is one inter-sample gap (h2's values step by 10)
    val e = exactPlan.select("skey", "value").as[(String, Double)].collect().toMap
    val a = sketchPlan.select("skey", "value").as[(String, Double)].collect().toMap
    assert(e.keySet === a.keySet)
    e.foreach { case (k, v) =>
      assert(math.abs(v - a(k)) <= 10.0, s"$k exact=$v sketch=${a(k)}")
    }
  }

  test("rollup path ≡ raw path for avg/sum/min/max/count (no OOO)") {
    val raw = dpDf
    val r1h = Rollup.rollup1h(raw)
    for (fn <- Seq("avg", "sum", "min", "max", "count")) {
      val viaRollup = Rollup.downsampleFromRollup(r1h, 2 * H, fn)
        .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
      val direct = Planner
        .planSub(raw, TsQuery(0, 4 * H - 1), SubQuery("m", "none", Some(s"2h-$fn")))
        .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
      assert(viaRollup === direct, s"fn=$fn")
    }
  }

  test("planRouted ≡ raw path: clean data, fill, ineligible funcs, and OOO fallback") {
    import graft.model.RollupUsage
    val r1h = Rollup.rollup1h(dpDf)
    def routed(ds: String, usage: RollupUsage = RollupUsage.FallbackRaw,
        src: org.apache.spark.sql.DataFrame = dpDf) = Planner
      .planRouted(src, TsQuery(0, 4 * H - 1),
        SubQuery("m", "none", Some(ds), rollupUsage = usage),
        Planner.Options(rollup1h = Some(r1h)))
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    def raw(ds: String, src: org.apache.spark.sql.DataFrame = dpDf) = Planner
      .planSub(src, TsQuery(0, 4 * H - 1), SubQuery("m", "none", Some(ds)))
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet

    for (ds <- Seq("2h-avg", "2h-sum", "2h-max", "2h-avg-zero"))
      assert(routed(ds) === raw(ds), ds)
    // no rollup form / sub-hour / usage=Raw: must still answer (via raw)
    assert(routed("2h-p99") === raw("2h-p99"))
    assert(routed("30m-avg") === raw("30m-avg"))
    assert(routed("2h-avg", usage = RollupUsage.Raw) === raw("2h-avg"))
    // stored rollup missing late re-ingested points: routed fallback
    // recomputes marked slices from raw and still matches the raw truth
    val late = Dp("m", Map("host" -> "h1"), 60000L, 50.0, 100L)
    val withLate = spark.createDataset(dps :+ late).toDF()
    assert(routed("2h-avg", src = withLate) === raw("2h-avg", src = withLate))

    // explicitTags must survive routing (series selection happens before
    // the pipeline tail, which must not re-apply it to a cleared tag map)
    def run(opts: Planner.Options, src: org.apache.spark.sql.DataFrame = dpDf) =
      Planner.planRouted(src, TsQuery(0, 4 * H - 1),
        SubQuery("m", "none", Some("2h-avg"), tags = Map("host" -> "*"),
          explicitTags = true), opts)
        .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    val viaRaw = run(Planner.Options())
    assert(viaRaw.nonEmpty)
    assert(run(Planner.Options(rollup1h = Some(r1h))) === viaRaw)

    // OOO witness OUTSIDE the query window: the late point at 30min
    // (seq 200) is only provably out-of-order against the 1h..3h rows
    // (earlier seqs, later ts) — all beyond the [0, 1h) window. Day-span
    // marks derivation must still invalidate the slice; a window-clipped
    // derivation would serve the stale hour-0 rollup.
    val lateEarly = Dp("m", Map("host" -> "h1"), 1800000L, 77.0, 200L)
    val withOoo = spark.createDataset(dps :+ lateEarly).toDF()
    val narrowQ = TsQuery(0, H - 1)
    val routedNarrow = Planner
      .planRouted(withOoo, narrowQ, SubQuery("m", "none", Some("1h-avg")),
        Planner.Options(rollup1h = Some(Rollup.rollup1h(dpDf)))) // stale rollup
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    val rawNarrow = Planner
      .planSub(withOoo, narrowQ, SubQuery("m", "none", Some("1h-avg")))
      .select("skey", "ts", "value").as[(String, Long, Double)].collect().toSet
    assert(routedNarrow === rawNarrow)
  }

  test("rollup routing: eligibility and interval snapping") {
    import graft.model.RollupUsage
    import graft.query.Downsample
    assert(Rollup.route(Some(Downsample.parse("2h-avg")), RollupUsage.FallbackRaw)
      === Some(Rollup.HourMs))
    assert(Rollup.route(Some(Downsample.parse("2d-sum")), RollupUsage.FallbackRaw)
      === Some(Rollup.DayMs))
    assert(Rollup.route(Some(Downsample.parse("2h-p99")), RollupUsage.FallbackRaw) === None)
    assert(Rollup.route(Some(Downsample.parse("10m-avg")), RollupUsage.FallbackRaw) === None)
    assert(Rollup.route(Some(Downsample.parse("2h-avg")), RollupUsage.Raw) === None)
    assert(Rollup.snap(90 * 60000L, Rollup.HourMs) === Rollup.HourMs) // 1.5h → 1h
    assert(Rollup.snap(7200000L, Rollup.HourMs) === 7200000L)
  }
}
