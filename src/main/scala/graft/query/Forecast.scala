package graft.query

import graft.functions.GraftFunctions.quant4
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Per-series forecasting (beyond the reference, which stops at rate /
  * downsample): Holt's linear-trend double exponential smoothing
  * (Holt 1957; the ETS(A,A,N) recurrence), the classic capacity-planning
  * projection over TSDB series.
  *
  * Determinism contract (the kmeans/ewma recipe): observations quantize
  * to the integer 1e-4 grid, and the level/trend recurrence with
  * α = β = 1/4 runs entirely in integer arithmetic —
  * `l_i = ⌊(y_i + 3(l+b))/4⌋`, `b_i = ⌊((l_i − l) + 3b)/4⌋` — so both
  * engines walk bit-identical states and the single final division is a
  * fixed-shape IEEE scalar. A recurrence is inherently sequential per
  * series, so it runs inside one `groupByKey.flatMapGroups` pass:
  * ONE keyed exchange, O(1) state per series, work linear in points —
  * the same per-series-scan shape every TSDB window query has.
  */
object Forecast {

  /** `h`-step-ahead Holt linear forecasts per series.
    *
    * Input: one row per (series key, timestamp) — pre-deduplicated;
    * output: (key, h, forecast) for h = 1..horizons, where
    * `forecast = level_n + h·trend_n` at the last observation.
    */
  def holtLinear(series: DataFrame, horizons: Int = 3,
      keyCol: String = "skey", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val out: Dataset[(String, Long, Double)] = series
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        quant4(col(valCol)))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        var l = ys(0)
        var b = 0L
        var i = 1
        while (i < ys.length) {
          val l1 = Math.floorDiv(ys(i) + 3L * (l + b), 4L)
          b = Math.floorDiv((l1 - l) + 3L * b, 4L)
          l = l1
          i += 1
        }
        (1 to horizons).iterator.map(h => (key, h.toLong, (l + h * b) / 10000.0))
      }
    out.toDF(keyCol, "h", "forecast")
  }

  /** `h`-step-ahead Holt-Winters ADDITIVE seasonal forecasts per series
    * (Winters 1960; ETS(A,A,A)) — [[holtLinear]] plus a length-`period`
    * seasonal state, the standard projection for daily/weekly-cycled
    * TSDB series.
    *
    * Determinism contract (the [[holtLinear]] recipe): 1e-4 integer
    * grid, α = β = γ = 1/4, every recurrence in integer arithmetic:
    *   l_i = ⌊((y_i − s_{i−m}) + 3(l+b))/4⌋
    *   b_i = ⌊((l_i − l) + 3b)/4⌋
    *   s_i = ⌊((y_i − l_i) + 3·s_{i−m})/4⌋
    * Init over the first m points: l₀ = ⌊Σy/m⌋, b₀ = 0, s_j = y_j − l₀.
    * Series shorter than `period` points emit nothing (no seasonal
    * estimate exists). Same 100 TB shape as [[holtLinear]]: ONE keyed
    * exchange, O(period) state per series, linear in points.
    */
  def holtWinters(series: DataFrame, period: Int = 4, horizons: Int = 3,
      keyCol: String = "skey", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val m = period
    val out: Dataset[(String, Long, Double)] = series
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        quant4(col(valCol)))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        if (n < m) Iterator.empty
        else {
          var l = Math.floorDiv(ys.take(m).sum, m.toLong)
          var b = 0L
          val s = Array.tabulate(m)(j => ys(j) - l)
          var i = m
          while (i < n) {
            val sm = s(i % m)
            val l1 = Math.floorDiv((ys(i) - sm) + 3L * (l + b), 4L)
            b = Math.floorDiv((l1 - l) + 3L * b, 4L)
            s(i % m) = Math.floorDiv((ys(i) - l1) + 3L * sm, 4L)
            l = l1
            i += 1
          }
          (1 to horizons).iterator.map { h =>
            (key, h.toLong, (l + h * b + s((n + h - 1) % m)) / 10000.0)
          }
        }
      }
    out.toDF(keyCol, "h", "forecast")
  }

  /** SAX symbolic series representation (Lin, Keogh, Lonardi & Chiu,
    * DMKD 2003): PAA time-bucket means, z-normalized per series, mapped
    * onto a 4-letter alphabet by the N(0,1) quartile breakpoints
    * (±0.6745, 0) — the classic symbolic index for motif/anomaly search
    * over TSDB series, emitted as one word per series.
    *
    * Determinism contract ([[cusum]]'s recipe): 1e-4 integer grid,
    * integer floor-means for the PAA buckets and the series mean, σ from
    * the exact integer sum of squared deviations through ONE fixed-shape
    * sqrt; breakpoint thresholds are the two doubles `±0.6745·σ`, and
    * each comparison pits an exact integer deviation against them — both
    * engines compare bit-identical doubles. Same 100 TB shape: one keyed
    * exchange, O(buckets) state per series.
    */
  def sax(series: DataFrame, bucketMs: Long = 3600000L,
      keyCol: String = "skey", tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val out: Dataset[(String, Long, String)] = series
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        quant4(col(valCol)))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val paa = it.toArray
          .groupBy(r => Math.floorDiv(r._2, bucketMs))
          .toArray.sortBy(_._1)
          .map { case (b, rows) =>
            var s = 0L; rows.foreach(s += _._3)
            b -> math.floor(s.toDouble / rows.length).toLong
          }
        val n = paa.length
        var sum = 0L
        paa.foreach(sum += _._2)
        val mu = math.floor(sum.toDouble / n).toLong
        // checked arithmetic: |d| past ~3e9 on the 1e-4 grid (≈3e5 raw
        // units) would silently wrap a Long d*d while the DuckDB oracle
        // promotes to HUGEINT — fail loudly instead of diverging
        var vn = 0L
        paa.foreach { p =>
          val d = p._2 - mu
          vn = Math.addExact(vn, Math.multiplyExact(d, d))
        }
        val sig = math.sqrt(vn.toDouble / n)
        val lo = -0.6745 * sig
        val hi = 0.6745 * sig
        val word = paa.map { case (_, p) =>
          val d = (p - mu).toDouble
          if (d < lo) 'a' else if (d < 0) 'b' else if (d < hi) 'c' else 'd'
        }.mkString
        (key, n.toLong, word)
      }
    out.toDF(keyCol, "n_seg", "sax")
  }

  /** One-sided upper CUSUM change detection (Page 1954): per series,
    * `S_i = max(0, S_{i−1} + y_i − μ − κ)` with slack `κ = σ/2` and
    * alarm threshold `H = 5σ` — the classic drift detector for
    * monitoring pipelines. Output: (key, ts, score, alarm) per point.
    *
    * Determinism: observations quantize to the 1e-4 grid; μ is an
    * integer floor-mean, σ comes from the exact integer sum of squared
    * deviations through ONE fixed-shape sqrt, κ and H floor to integers,
    * and the recurrence itself is pure integer max/add — both engines
    * walk bit-identical states (the [[holtLinear]] recipe). Same plan
    * shape too: one keyed exchange, sequential within series.
    */
  def cusum(series: DataFrame, keyCol: String = "skey",
      tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val out: Dataset[(String, Long, Double, Boolean)] = series
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        quant4(col(valCol)))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        var sum = 0L
        rows.foreach(sum += _._3)
        val mu = math.floor(sum.toDouble / n).toLong
        // checked like the SAX path: overflow of the squared-deviation
        // sum must error, not silently diverge from the HUGEINT oracle
        var vn = 0L
        rows.foreach { r =>
          val d = r._3 - mu
          vn = Math.addExact(vn, Math.multiplyExact(d, d))
        }
        val dev = math.sqrt(vn.toDouble / n)
        val kq = math.floor(dev / 2.0).toLong
        val hq = math.floor(dev * 5.0).toLong
        var s = 0L
        rows.iterator.map { case (_, ts, q) =>
          s = math.max(0L, s + q - mu - kq)
          (key, ts, s / 10000.0, s > hq)
        }
      }
    out.toDF(keyCol, tsCol, "score", "alarm")
  }
}
