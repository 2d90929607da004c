package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{Dp, DpView}
import graft.SparkEntry.{dpCte, quantSql, sroundSql, DAY, SIXH, T0, T1}
import graft.functions.GraftFunctions.{quant4, round4}

/** BEYOND-REFERENCE per-series statistical analytics over the dp view —
  * the model-fitting / diagnosis layer a monitoring stack runs on top of
  * the reference's raw query engine (the reference stops at downsample +
  * cross-series aggregation, `src/core/query.cpp`): OLS trend fit with
  * R², cross-metric correlation, tie-broken Spearman rank correlation,
  * STL-style seasonal decomposition, single change-point detection, and
  * a seasonal-naive forecast backtest.
  *
  * Determinism recipe shared with [[SparkEntry]]'s q_acf/q_theilsen
  * family: values land on a 1e-4 integer grid at dedup, 6h bucket sums
  * collapse to a 1e-2 grid (`div 100` — all values positive), every
  * moment is an exact int64 sum, and each reported statistic is ONE
  * fixed-shape IEEE expression over those integers — so DuckDB replays
  * the math bit-for-bit and the driver's hash oracle holds.
  *
  * 100 TB shape: everything is (a) one dedup aggregation, (b) one bucket
  * aggregation (map-side combined), (c) per-series windows or a keyed
  * self-join on (skey, bucket) — the window width (28 six-hour buckets
  * here) bounds per-series state, never the corpus; nothing collects to
  * the driver and no join lacks an equi-key.
  */
object SeriesAnalytics {

  /** Deduped (last-write-wins) 6h bucket grid for one metric:
    * `(skey, t, b)` with `b` = bucket sum on the 1e-2 integer grid —
    * the q_acf recipe, shared by every gate in this object.
    */
  private def buckets6h(s: SparkSession, dir: String,
      metric: String): DataFrame =
    Dp.withSeriesKey(
      DpView.dp(s, dir)
        .filter(col("metric") === metric && col("ts").between(T0, T1)))
      .groupBy(col("skey"), col("ts"))
      .agg(max_by(col("value"), col("seq")).as("value"))
      .withColumn("q", quant4(col("value")))
      .groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(SIXH))).as("t"))
      .agg(sum(col("q")).as("sq_"))
      .select(col("skey"), col("t"), expr("sq_ div 100").as("b"))

  /** Oracle-side twin of [[buckets6h]]: dedup + bucket CTEs (names
    * `dedup`, `bk` with columns skey/t/b).
    */
  private def bucketsCte(metric: String): String =
    s"""dedup AS (
       |  SELECT skey, ts, arg_max(value, seq) AS value
       |  FROM dp
       |  WHERE metric = '$metric' AND ts BETWEEN $T0 AND $T1
       |  GROUP BY skey, ts),
       |bk AS (
       |  SELECT skey, ts - ts % $SIXH AS t,
       |         CAST(sum(${quantSql("value")})
       |              AS BIGINT) // 100 AS b
       |  FROM dedup GROUP BY skey, ts - ts % $SIXH)""".stripMargin

  /** Oracle CTEs `ag` (count and moment sums of the pairs `pr(bx, byy)`
    * per `pre`) and `v` (the covariance and variance numerators).
    */
  private def fiveSumR(pre: String): String =
    s"""ag AS (
       |  SELECT $pre, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(bx) AS BIGINT) AS sx,
       |         CAST(sum(byy) AS BIGINT) AS sy,
       |         CAST(sum(bx * byy) AS BIGINT) AS sxy,
       |         CAST(sum(bx * bx) AS BIGINT) AS sxx,
       |         CAST(sum(byy * byy) AS BIGINT) AS syy
       |  FROM pr GROUP BY $pre),
       |v AS (
       |  SELECT $pre, n, sxy, sx, sy,
       |         n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
       |  FROM ag)""".stripMargin

  /** The per-series analytics gates: each builder with its DuckDB oracle. */
  lazy val gates: Seq[Gate] = Seq(
    // ---- OLS trend fit with R² --------------------------------------
    // Per series: least-squares line over (bucket index, bucket value)
    // plus the fit quality the Theil-Sen gate doesn't report. Bucket
    // index i = (t-T0)/6h keeps every moment product (i ≤ 28) inside
    // int64; slope/intercept/R² are three fixed-shape expressions over
    // six exact integer sums. One aggregation per series — the least
    // data a trend fit can touch.
    Gate("q_ols_fit", { (s, dir) =>
      buckets6h(s, dir, "view")
        .withColumn("i", expr(s"(t - ${T0}L) div ${SIXH}L"))
        .groupBy("skey")
        .agg(count(lit(1)).as("n"),
          sum(col("i")).as("si"), sum(col("i") * col("i")).as("sii"),
          sum(col("b")).as("sb"), sum(col("b") * col("b")).as("sbb"),
          sum(col("i") * col("b")).as("sib"))
        .withColumn("dx", col("n") * col("sii") - col("si") * col("si"))
        .withColumn("dy", col("n") * col("sbb") - col("sb") * col("sb"))
        .withColumn("num", col("n") * col("sib") - col("si") * col("sb"))
        .filter(col("n") >= 8 && col("dx") > 0 && col("dy") > 0)
        .withColumn("slope", col("num").cast("double") / col("dx").cast("double"))
        .withColumn("icept",
          (col("sb").cast("double") - col("slope") * col("si").cast("double"))
            / col("n").cast("double"))
        .withColumn("r2",
          (col("num").cast("double") * col("num").cast("double"))
            / (col("dx").cast("double") * col("dy").cast("double")))
        .select(col("skey"), col("n"), round4(col("slope") / 100).as("slope"),
          round4(col("icept") / 100).as("icept"), round4(col("r2")).as("r2"))
        .orderBy("skey")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""ix AS (
           |  SELECT skey, (t - $T0) // $SIXH AS i, b FROM bk),
           |ag AS (
           |  SELECT skey, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(i) AS BIGINT) AS si,
           |         CAST(sum(i * i) AS BIGINT) AS sii,
           |         CAST(sum(b) AS BIGINT) AS sb,
           |         CAST(sum(b * b) AS BIGINT) AS sbb,
           |         CAST(sum(i * b) AS BIGINT) AS sib
           |  FROM ix GROUP BY skey),
           |d AS (
           |  SELECT skey, n, n * sii - si * si AS dx, n * sbb - sb * sb AS dy,
           |         n * sib - si * sb AS num, si, sb
           |  FROM ag),
           |f AS (
           |  SELECT skey, n, dx, dy, num, si, sb,
           |         CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) AS slope
           |  FROM d WHERE n >= 8 AND dx > 0 AND dy > 0)
           |SELECT skey, n,
           |       ${sroundSql("slope / 100")} AS slope,
           |       ${sroundSql(
                "((CAST(sb AS DOUBLE) - slope * CAST(si AS DOUBLE))" +
                " / CAST(n AS DOUBLE)) / 100")} AS icept,
           |       ${sroundSql(
                "(CAST(num AS DOUBLE) * CAST(num AS DOUBLE))" +
                " / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))")} AS r2
           |FROM f ORDER BY skey""".stripMargin),

    // ---- cross-metric Pearson correlation ---------------------------
    // Which entities' `view` and `click` series move together: bucket
    // grids of both metrics joined on (tag suffix, bucket), five-sum
    // Pearson per entity. The join is equi-keyed on (tkey, t) — at
    // scale both sides are the already-tiny bucket aggregates, not raw
    // points, and co-partition on the same key.
    Gate("q_xcorr", { (s, dir) =>
      val a = buckets6h(s, dir, "view")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("bx"))
      val c = buckets6h(s, dir, "click")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("by"))
      a.join(c, Seq("tkey", "t"))
        .groupBy("tkey")
        .agg(count(lit(1)).as("n"),
          sum(col("bx")).as("sx"), sum(col("by")).as("sy"),
          sum(col("bx") * col("by")).as("sxy"),
          sum(col("bx") * col("bx")).as("sxx"),
          sum(col("by") * col("by")).as("syy"))
        .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") >= 8 && col("vx") > 0 && col("vy") > 0)
        .withColumn("r",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(col("vx").cast("double") * col("vy").cast("double")))
        .select(col("tkey"), col("n"), round4(col("r")).as("r"))
        .orderBy("tkey")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric IN ('view', 'click') AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         CASE WHEN skey LIKE 'view%' THEN 'view' ELSE 'click' END AS m,
           |         ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup
           |  GROUP BY 1, 2, 3),
           |pr AS (
           |  SELECT x.tkey, x.b AS bx, y.b AS byy
           |  FROM bk x JOIN bk y ON y.tkey = x.tkey AND y.t = x.t
           |  WHERE x.m = 'view' AND y.m = 'click'),
           |${fiveSumR("tkey")}
           |SELECT tkey, n,
           |       ${sroundSql(
                "CAST(n * sxy - sx * sy AS DOUBLE) / " +
                "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))")} AS r
           |FROM v WHERE n >= 8 AND vx > 0 AND vy > 0
           |ORDER BY tkey""".stripMargin),

    // ---- Spearman rank correlation (tie-broken) ---------------------
    // The robust sibling of q_xcorr: Pearson over RANKS, so monotone
    // but non-linear co-movement still scores. Ranks are row_numbers
    // ordered by (value, bucket) — the bucket tiebreak makes ranks
    // deterministic integers (documented variant: ties broken by time,
    // not averaged), and the whole statistic is then exact-integer
    // until one final division. Windows partition by entity — bounded
    // state, no extra shuffle beyond the rank sort.
    Gate("q_spearman", { (s, dir) =>
      val a = buckets6h(s, dir, "view")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("bx"))
      val c = buckets6h(s, dir, "click")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("by"))
      val j = a.join(c, Seq("tkey", "t"))
      val rx = Window.partitionBy("tkey").orderBy(col("bx"), col("t"))
      val ry = Window.partitionBy("tkey").orderBy(col("by"), col("t"))
      j.withColumn("rx", row_number().over(rx).cast("long"))
        .withColumn("ry", row_number().over(ry).cast("long"))
        .groupBy("tkey")
        .agg(count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
        .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") >= 8 && col("vx") > 0 && col("vy") > 0)
        .withColumn("rho",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(col("vx").cast("double") * col("vy").cast("double")))
        .select(col("tkey"), col("n"), round4(col("rho")).as("rho"))
        .orderBy("tkey")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric IN ('view', 'click') AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         CASE WHEN skey LIKE 'view%' THEN 'view' ELSE 'click' END AS m,
           |         ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup
           |  GROUP BY 1, 2, 3),
           |j AS (
           |  SELECT x.tkey, x.t, x.b AS vbx, y.b AS vby
           |  FROM bk x JOIN bk y ON y.tkey = x.tkey AND y.t = x.t
           |  WHERE x.m = 'view' AND y.m = 'click'),
           |rk AS (
           |  SELECT tkey,
           |         CAST(row_number() OVER
           |           (PARTITION BY tkey ORDER BY vbx, t) AS BIGINT) AS bx,
           |         CAST(row_number() OVER
           |           (PARTITION BY tkey ORDER BY vby, t) AS BIGINT) AS byy
           |  FROM j),
           |pr AS (SELECT tkey, bx, byy FROM rk),
           |${fiveSumR("tkey")}
           |SELECT tkey, n,
           |       ${sroundSql(
                "CAST(n * sxy - sx * sy AS DOUBLE) / " +
                "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))")} AS rho
           |FROM v WHERE n >= 8 AND vx > 0 AND vy > 0
           |ORDER BY tkey""".stripMargin),

    // ---- Kendall tau-b rank correlation -----------------------------
    // The concordance sibling of q_spearman: over every bucket PAIR of
    // an entity, count concordant/discordant/tied co-movements of the
    // view and click series — tau-b's pairwise definition is exactly
    // "do the two metrics move the same way between any two times",
    // robust to monotone transforms and to ties Spearman's rank-Pearson
    // only approximates. The per-entity self-join is bounded (≤28
    // buckets/week ⇒ ≤378 pairs) and co-partitions on the entity key;
    // every count is an exact integer, tau is one final division.
    Gate("q_kendall", { (s, dir) =>
      val a = buckets6h(s, dir, "view")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("bx"))
      val c = buckets6h(s, dir, "click")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("by"))
      val j = a.join(c, Seq("tkey", "t"))
      val p = j.as("p1").join(j.as("p2"),
        col("p1.tkey") === col("p2.tkey") && col("p1.t") < col("p2.t"))
        .select(col("p1.tkey").as("tkey"),
          (col("p1.bx") - col("p2.bx")).as("dx"),
          (col("p1.by") - col("p2.by")).as("dy"))
      p.groupBy("tkey")
        .agg(count(lit(1)).as("n0"),
          sum(when((col("dx") > 0 && col("dy") > 0) ||
            (col("dx") < 0 && col("dy") < 0), 1L).otherwise(0L)).as("nc"),
          sum(when((col("dx") > 0 && col("dy") < 0) ||
            (col("dx") < 0 && col("dy") > 0), 1L).otherwise(0L)).as("nd"),
          sum(when(col("dx") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("dy") === 0, 1L).otherwise(0L)).as("n2"))
        .filter(col("n0") >= 28 && col("n0") > col("n1") &&
          col("n0") > col("n2"))
        .withColumn("tau", (col("nc") - col("nd")).cast("double") /
          sqrt((col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double")))
        .select(col("tkey"), col("n0"), col("nc"), col("nd"),
          round4(col("tau")).as("tau"))
        .orderBy("tkey")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric IN ('view', 'click') AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         CASE WHEN skey LIKE 'view%' THEN 'view' ELSE 'click' END AS m,
           |         ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup
           |  GROUP BY 1, 2, 3),
           |j AS (
           |  SELECT x.tkey, x.t, x.b AS bx, y.b AS byy
           |  FROM bk x JOIN bk y ON y.tkey = x.tkey AND y.t = x.t
           |  WHERE x.m = 'view' AND y.m = 'click'),
           |pr AS (
           |  SELECT a.tkey, a.bx - b.bx AS dx, a.byy - b.byy AS dy
           |  FROM j a JOIN j b ON b.tkey = a.tkey AND a.t < b.t),
           |ag AS (
           |  SELECT tkey, CAST(count(*) AS BIGINT) AS n0,
           |    CAST(sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
           |             THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |    CAST(sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
           |             THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           |    CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           |  FROM pr GROUP BY tkey)
           |SELECT tkey, n0, nc, nd,
           |  ${sroundSql(
              "CAST(nc - nd AS DOUBLE) / " +
              "sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))")} AS tau
           |FROM ag WHERE n0 >= 28 AND n0 > n1 AND n0 > n2
           |ORDER BY tkey""".stripMargin),

    // ---- STL-style seasonal decomposition ---------------------------
    // value = trend + seasonal + residual on the 6h grid with a daily
    // period (4 buckets): trend = centered 5-point moving average
    // (full windows only), detrended values quantized to a 1e-1 grid
    // then phase-averaged into the seasonal component (exact integer
    // sums → one division), residual = detrended − seasonal. One
    // window pass + one phase aggregation per series; per-series state
    // is the 5-bucket window, constant at any corpus size.
    Gate("q_stl", { (s, dir) =>
      val w = Window.partitionBy("skey").orderBy("t").rowsBetween(-2, 2)
      val det = buckets6h(s, dir, "view")
        .withColumn("tsum", sum(col("b")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") === 5)
        .withColumn("trend", col("tsum").cast("double") / 5.0)
        .withColumn("qdet",
          floor((col("b").cast("double") - col("trend")) * 10 + 0.5 + 1e-6)
            .cast("long"))
        .withColumn("phase", expr(s"((t - ${T0}L) div ${SIXH}L) % 4"))
      val seas = det.groupBy("skey", "phase")
        .agg(sum(col("qdet")).as("sq"), count(lit(1)).as("nq"))
        .withColumn("seasonal",
          col("sq").cast("double") / (col("nq").cast("double") * 10.0))
        .select("skey", "phase", "seasonal")
      det.join(seas, Seq("skey", "phase"))
        .select(col("skey"), expr("t div 1000").as("ts"),
          round4(col("trend") / 100).as("trend"),
          round4(col("seasonal") / 100).as("seasonal"),
          round4((col("qdet").cast("double") / 10.0 - col("seasonal")) / 100)
            .as("resid"))
        .orderBy("skey", "ts")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""tr AS (
           |  SELECT skey, t, b,
           |         CAST(sum(b) OVER w AS BIGINT) AS tsum,
           |         count(*) OVER w AS cnt
           |  FROM bk
           |  WINDOW w AS (PARTITION BY skey ORDER BY t
           |               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
           |det AS (
           |  SELECT skey, t, CAST(tsum AS DOUBLE) / 5.0 AS trend,
           |         CAST(floor((CAST(b AS DOUBLE) - CAST(tsum AS DOUBLE) / 5.0)
           |              * 10 + 0.5 + 1e-6) AS BIGINT) AS qdet,
           |         ((t - $T0) // $SIXH) % 4 AS phase
           |  FROM tr WHERE cnt = 5),
           |seas AS (
           |  SELECT skey, phase,
           |         CAST(sum(qdet) AS DOUBLE)
           |           / (CAST(count(*) AS DOUBLE) * 10.0) AS seasonal
           |  FROM det GROUP BY skey, phase)
           |SELECT d.skey, d.t // 1000 AS ts,
           |       ${sroundSql("d.trend / 100")} AS trend,
           |       ${sroundSql("s.seasonal / 100")} AS seasonal,
           |       ${sroundSql(
                "(CAST(d.qdet AS DOUBLE) / 10.0 - s.seasonal) / 100")} AS resid
           |FROM det d JOIN seas s ON d.skey = s.skey AND d.phase = s.phase
           |ORDER BY d.skey, ts""".stripMargin),

    // ---- single change-point detection ------------------------------
    // Per series, the split of the bucket sequence that maximizes the
    // between-segment variance reduction (the CART/Fisher split — the
    // batch cousin of the CUSUM gate's sequential detector): gain(i) ∝
    // diff²/(n₁·n₂) with diff = S₁·n₂ − S₂·n₁ from prefix sums. diff is
    // exact int64; it is cast to double BEFORE squaring so the score
    // never overflows. Deterministic argmax: ties break to the earliest
    // split. One cumulative window + one rank window per series.
    Gate("q_changepoint", { (s, dir) =>
      val wc = Window.partitionBy("skey").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy("skey")
      val scored = buckets6h(s, dir, "view")
        .withColumn("s1", sum(col("b")).over(wc))
        .withColumn("n1", count(lit(1)).over(wc))
        .withColumn("st", sum(col("b")).over(wa))
        .withColumn("nt", count(lit(1)).over(wa))
        .filter(col("n1") < col("nt") && col("nt") >= 8)
        .withColumn("n2", col("nt") - col("n1"))
        .withColumn("diff",
          (col("s1") * col("n2") - (col("st") - col("s1")) * col("n1"))
            .cast("double"))
        .withColumn("gain",
          col("diff") * col("diff")
            / (col("n1").cast("double") * col("n2").cast("double")))
      val pick = Window.partitionBy("skey")
        .orderBy(col("gain").desc, col("t"))
      scored.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("skey"), expr("(t + " + SIXH + "L) div 1000").as("split_ts"),
          col("n1").as("n_left"), col("n2").as("n_right"),
          round4(col("s1").cast("double") / col("n1") / 100).as("mean_left"),
          round4((col("st") - col("s1")).cast("double") / col("n2") / 100)
            .as("mean_right"))
        .orderBy("skey")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""pf AS (
           |  SELECT skey, t,
           |         CAST(sum(b) OVER (PARTITION BY skey ORDER BY t
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |              AS BIGINT) AS s1,
           |         CAST(count(*) OVER (PARTITION BY skey ORDER BY t
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |              AS BIGINT) AS n1,
           |         CAST(sum(b) OVER (PARTITION BY skey) AS BIGINT) AS st,
           |         CAST(count(*) OVER (PARTITION BY skey) AS BIGINT) AS nt
           |  FROM bk),
           |sc AS (
           |  SELECT skey, t, s1, n1, st, nt, nt - n1 AS n2,
           |         CAST(s1 * (nt - n1) - (st - s1) * n1 AS DOUBLE) AS diff
           |  FROM pf WHERE n1 < nt AND nt >= 8),
           |gn AS (
           |  SELECT skey, t, s1, n1, st, n2,
           |         diff * diff / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
           |           AS gain
           |  FROM sc),
           |pick AS (
           |  SELECT *, row_number() OVER
           |           (PARTITION BY skey ORDER BY gain DESC, t) AS rn
           |  FROM gn)
           |SELECT skey, (t + $SIXH) // 1000 AS split_ts,
           |       n1 AS n_left, n2 AS n_right,
           |       ${sroundSql("CAST(s1 AS DOUBLE) / n1 / 100")} AS mean_left,
           |       ${sroundSql("CAST(st - s1 AS DOUBLE) / n2 / 100")} AS mean_right
           |FROM pick WHERE rn = 1 ORDER BY skey""".stripMargin),

    // ---- cross-metric ratio (SLO error rate) ------------------------
    // error/view per entity per 6h bucket — the metric-arithmetic query
    // (OpenTSDB 2.x /api/query/exp territory; the reference has no
    // cross-metric math at all): both metrics' bucket grids join equi
    // on (tag suffix, bucket), the ratio is one division of exact
    // integer sums. Buckets with views and no errors read 0 (left
    // join); entities with no views that bucket vanish (no denominator).
    Gate("q_metric_ratio", { (s, dir) =>
      val v = buckets6h(s, dir, "view")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("bv"))
      val e = buckets6h(s, dir, "error")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("be"))
      v.join(e, Seq("tkey", "t"), "left")
        .filter(col("bv") > 0)
        .withColumn("ratio",
          coalesce(col("be"), lit(0L)).cast("double") / col("bv").cast("double"))
        .select(col("tkey"), expr("t div 1000").as("ts"),
          col("bv"), coalesce(col("be"), lit(0L)).as("be"),
          round4(col("ratio")).as("ratio"))
        .orderBy("tkey", "ts")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric IN ('view', 'error') AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         CASE WHEN skey LIKE 'view%' THEN 'view' ELSE 'error' END AS m,
           |         ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup GROUP BY 1, 2, 3),
           |j AS (
           |  SELECT v.tkey, v.t, v.b AS bv, COALESCE(e.b, 0) AS be
           |  FROM (SELECT * FROM bk WHERE m = 'view') v
           |  LEFT JOIN (SELECT * FROM bk WHERE m = 'error') e
           |    ON e.tkey = v.tkey AND e.t = v.t
           |  WHERE v.b > 0)
           |SELECT tkey, t // 1000 AS ts, bv, be,
           |       ${sroundSql("CAST(be AS DOUBLE) / CAST(bv AS DOUBLE)")} AS ratio
           |FROM j ORDER BY tkey, ts""".stripMargin),

    // ---- banded DTW (dynamic time warping) --------------------------
    // How similar is a series' day-2 hourly profile to its day-1
    // profile ALLOWING small time shifts — the alignment-tolerant
    // distance Euclidean comparison can't give (a 1-hour phase shift
    // costs Euclidean dearly, DTW almost nothing). Sakoe–Chiba band
    // w=3; missing hours read 0 on the fixed 24-slot spine; costs are
    // |Δ| over the 1e-2 integer grid, so the whole DP is exact integer
    // math — the DuckDB oracle replays it as a 47-step anti-diagonal
    // wavefront (two carried LIST states), while Spark runs the
    // straightforward per-series DP in mapGroups: same recurrence, same
    // integers, any evaluation order. Per-series state = two 24-slot
    // arrays; the only shuffle keys by skey.
    Gate("q_dtw", { (s, dir) =>
      import s.implicits._
      val HOUR = 3600000L
      val d2 = T0 + 2 * 86400000L
      val bk = Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" &&
            col("ts") >= T0 && col("ts") < d2))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy(col("skey"),
          expr(s"(ts - ${T0}) div ${HOUR}").as("slot"))
        .agg(sum(col("q")).as("sq_"))
        .select(col("skey"), col("slot"), expr("sq_ div 100").as("b"))
        .as[(String, Long, Long)]
      val W = 3
      val INF = 1L << 40
      bk.groupByKey(_._1)
        .mapGroups { (skey, it) =>
          val m = it.map(t => t._2 -> t._3).toMap
          val a = Array.tabulate(24)(i => m.getOrElse(i.toLong, 0L))
          val b = Array.tabulate(24)(j => m.getOrElse((j + 24).toLong, 0L))
          val dp = Array.fill(24, 24)(INF)
          var i = 0
          while (i < 24) {
            var j = math.max(0, i - W)
            val hi = math.min(23, i + W)
            while (j <= hi) {
              val c = math.abs(a(i) - b(j))
              val best =
                if (i == 0 && j == 0) 0L
                else math.min(
                  if (i > 0) dp(i - 1)(j) else INF,
                  math.min(
                    if (j > 0) dp(i)(j - 1) else INF,
                    if (i > 0 && j > 0) dp(i - 1)(j - 1) else INF))
              if (best < INF) dp(i)(j) = c + best
              j += 1
            }
            i += 1
          }
          (skey, dp(23)(23))
        }
        .toDF("skey", "dtw")
        .orderBy("skey")
    },
      // DTW oracle: the same integer DP evaluated as a 47-step
      // anti-diagonal wavefront — a recursive CTE carrying the two
      // previous diagonals as LIST state (the Holt-Winters per-step
      // LIST pattern). Out-of-band cells hold the INF constant;
      // out-of-range list indexes read NULL, which `least` skips —
      // both behaviors mirror the Spark DP's validity guards exactly.
      dpCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts >= $T0 AND ts < ${T0 + 2 * 86400000L}
           |  GROUP BY skey, ts),
           |bk24 AS MATERIALIZED (
           |  SELECT skey, (ts - $T0) // 3600000 AS slot,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup GROUP BY 1, 2),
           |spine AS (
           |  SELECT k.skey, CAST(s.range AS BIGINT) AS slot
           |  FROM (SELECT DISTINCT skey FROM bk24) k CROSS JOIN range(48) s),
           |grid AS (
           |  SELECT sp.skey, sp.slot, COALESCE(b.b, 0) AS b
           |  FROM spine sp LEFT JOIN bk24 b
           |    ON b.skey = sp.skey AND b.slot = sp.slot),
           |vecs AS (
           |  SELECT skey,
           |    list(b ORDER BY slot) FILTER (WHERE slot < 24) AS av,
           |    list(b ORDER BY slot) FILTER (WHERE slot >= 24) AS bv
           |  FROM grid GROUP BY skey),
           |rec AS (
           |  SELECT skey, av, bv, 0 AS k,
           |    list_transform(range(24), j ->
           |      CASE WHEN j = 0 THEN abs(av[1] - bv[1])
           |           ELSE 1099511627776 END) AS cur,
           |    CAST(NULL AS BIGINT[]) AS prev
           |  FROM vecs
           |  UNION ALL
           |  SELECT skey, av, bv, k + 1,
           |    list_transform(range(24), j ->
           |      CASE WHEN (k + 1 - j) BETWEEN 0 AND 23
           |                AND abs(k + 1 - 2 * j) <= 3 THEN
           |        abs(av[k + 1 - j + 1] - bv[j + 1]) +
           |        least(cur[j + 1], cur[j], prev[j])
           |      ELSE 1099511627776 END) AS cur,
           |    cur AS prev
           |  FROM rec WHERE k < 46)
           |SELECT skey, cur[24] AS dtw
           |FROM rec WHERE k = 46 ORDER BY skey""".stripMargin),

    // ---- value-distribution drift (Jensen–Shannon) ------------------
    // Did a series' VALUE DISTRIBUTION change between the window's two
    // halves — the drift check behind "did the deploy change behavior"
    // that mean-based monitors miss (same mean, different shape).
    // Fixed 40-cell value histogram per half (2500 grid units ≈ 0.25
    // value units per cell, saturating top cell), Laplace-smoothed
    // probabilities, JS divergence. Each bucket's JS term is one
    // fixed-shape expression over integer counts, quantized to a 1e-6
    // integer BEFORE the per-series sum (order-free — the
    // pl_corpus_stats cross-engine float rule). Observed-cell variant:
    // cells empty in BOTH halves are skipped (both engines group the
    // same relation, so the cell set matches exactly). Two hash
    // aggregations, no joins; bounded by 40 cells per series.
    Gate("q_value_drift", { (s, dir) =>
      val tm = (T0 + T1) / 2
      val nb = 40
      val d = Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .withColumn("h", when(col("ts") < tm, 0).otherwise(1))
        .withColumn("vb",
          least(expr("(q - pmod(q, 2500)) div 2500"), lit(nb - 1L)))
      val cells = d.groupBy("skey", "vb").agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("c2"))
      val tot = d.groupBy("skey").agg(
        sum(when(col("h") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("n2"))
      val p = (col("c1") + 1).cast("double") / (col("n1") + nb).cast("double")
      val q = (col("c2") + 1).cast("double") / (col("n2") + nb).cast("double")
      val m = (p + q) / 2.0
      val term = p * log(p / m) + q * log(q / m)
      cells.join(broadcast(tot), "skey")
        .filter(col("n1") > 0 && col("n2") > 0)
        .withColumn("qt",
          floor(term * 1000000 + 0.5 + 1e-6).cast("long"))
        .groupBy("skey")
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(col("qt")).as("sq"))
        .select(col("skey"), col("n1"), col("n2"),
          round4(col("sq").cast("double") / 2000000.0).as("js"))
        .orderBy("skey")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |hv AS (
           |  SELECT skey,
           |         CASE WHEN ts < ${(T0 + T1) / 2} THEN 0 ELSE 1 END AS h,
           |         least(${quantSql("value")}
           |               // 2500, 39) AS vb
           |  FROM dedup),
           |cells AS (
           |  SELECT skey, vb,
           |         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
           |  FROM hv GROUP BY skey, vb),
           |tot AS (
           |  SELECT skey,
           |         CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |         CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
           |  FROM hv GROUP BY skey),
           |tm AS (
           |  SELECT c.skey, t.n1, t.n2,
           |    CAST(c.c1 + 1 AS DOUBLE) / CAST(t.n1 + 40 AS DOUBLE) AS p,
           |    CAST(c.c2 + 1 AS DOUBLE) / CAST(t.n2 + 40 AS DOUBLE) AS q
           |  FROM cells c JOIN tot t ON t.skey = c.skey
           |  WHERE t.n1 > 0 AND t.n2 > 0),
           |qt AS (
           |  SELECT skey, n1, n2,
           |    CAST(floor((p * ln(p / ((p + q) / 2.0e0))
           |              + q * ln(q / ((p + q) / 2.0e0)))
           |         * 1000000 + 0.5 + 1e-6) AS BIGINT) AS qt
           |  FROM tm)
           |SELECT skey, max(n1) AS n1, max(n2) AS n2,
           |       ${sroundSql(
                "CAST(sum(qt) AS DOUBLE) / 2000000.0e0")} AS js
           |FROM qt GROUP BY skey ORDER BY skey""".stripMargin),

    // ---- matrix profile (self-similarity scan) ----------------------
    // Per series, each position's nearest-neighbor distance to every
    // OTHER subsequence of the same series (Yeh et al. 2016's matrix
    // profile, subsequence length 4 buckets, exclusion zone 2): low
    // profile = repeated motif, high profile = discord (anomaly) — the
    // primitive behind motif discovery without picking a threshold.
    // Subsequences come from one lead-window pass (gaps break them:
    // all four buckets must be consecutive); the pair stage is a keyed
    // self-join per series — quadratic in the WINDOW's subsequence
    // count (≤25 here), never corpus size, co-located per skey.
    // Distances are exact integer sums; argmin ties to the earliest
    // neighbor. Output: (skey, ts, d2, nn_ts).
    Gate("q_matrix_profile", { (s, dir) =>
      val w = Window.partitionBy("skey").orderBy("t")
      val sub = buckets6h(s, dir, "view")
        .withColumn("t1", lead(col("t"), 1).over(w))
        .withColumn("t2", lead(col("t"), 2).over(w))
        .withColumn("t3", lead(col("t"), 3).over(w))
        .withColumn("b1", lead(col("b"), 1).over(w))
        .withColumn("b2", lead(col("b"), 2).over(w))
        .withColumn("b3", lead(col("b"), 3).over(w))
        .filter(col("t1") === col("t") + SIXH &&
          col("t2") === col("t") + 2 * SIXH &&
          col("t3") === col("t") + 3 * SIXH)
        .select(col("skey"), col("t"), col("b"), col("b1"), col("b2"), col("b3"))
      val other = sub.select(col("skey"), col("t").as("jt"),
        col("b").as("c0"), col("b1").as("c1"), col("b2").as("c2"),
        col("b3").as("c3"))
      def sq(a: Column, b: Column): Column = (a - b) * (a - b)
      val pairs = sub.join(other, Seq("skey"))
        .filter(abs(col("jt") - col("t")) >= lit(2 * SIXH))
        .withColumn("d2",
          sq(col("b"), col("c0")) + sq(col("b1"), col("c1")) +
            sq(col("b2"), col("c2")) + sq(col("b3"), col("c3")))
      val pick = Window.partitionBy("skey", "t")
        .orderBy(col("d2"), col("jt"))
      pairs.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("skey"), expr("t div 1000").as("ts"), col("d2"),
          expr("jt div 1000").as("nn_ts"))
        .orderBy("skey", "ts")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""sub AS (
           |  SELECT skey, t, b,
           |         lead(t, 1) OVER w AS t1, lead(t, 2) OVER w AS t2,
           |         lead(t, 3) OVER w AS t3,
           |         lead(b, 1) OVER w AS b1, lead(b, 2) OVER w AS b2,
           |         lead(b, 3) OVER w AS b3
           |  FROM bk
           |  WINDOW w AS (PARTITION BY skey ORDER BY t)),
           |ss AS (
           |  SELECT skey, t, b, b1, b2, b3 FROM sub
           |  WHERE t1 = t + $SIXH AND t2 = t + ${2 * SIXH}
           |    AND t3 = t + ${3 * SIXH}),
           |pr AS (
           |  SELECT x.skey, x.t, y.t AS jt,
           |         CAST((x.b - y.b) * (x.b - y.b)
           |           + (x.b1 - y.b1) * (x.b1 - y.b1)
           |           + (x.b2 - y.b2) * (x.b2 - y.b2)
           |           + (x.b3 - y.b3) * (x.b3 - y.b3) AS BIGINT) AS d2
           |  FROM ss x JOIN ss y ON y.skey = x.skey
           |  WHERE abs(y.t - x.t) >= ${2 * SIXH}),
           |pick AS (
           |  SELECT *, row_number() OVER
           |           (PARTITION BY skey, t ORDER BY d2, jt) AS rn
           |  FROM pr)
           |SELECT skey, t // 1000 AS ts, d2, jt // 1000 AS nn_ts
           |FROM pick WHERE rn = 1 ORDER BY skey, ts""".stripMargin),

    // ---- seasonal-naive forecast backtest ---------------------------
    // The measure-don't-guess gate for the forecasting family: hold out
    // the window's last day, forecast each held-out bucket two ways —
    // seasonal-naive (same bucket yesterday) and naive (previous
    // bucket) — and report per-series sMAPE for both plus the winner.
    // Forecasts come from equi-joins on the shifted bucket key (gaps
    // pair only with real buckets, same as q_acf); each sMAPE term is
    // quantized to the 1e-4 grid and summed as integers, so the
    // winner comparison crosses engines exactly.
    Gate("q_snaive_eval", { (s, dir) =>
      val bk = buckets6h(s, dir, "view")
      val cut = T1 - DAY
      val eval0 = bk.filter(col("t") >= cut)
        .select(col("skey"), col("t"), col("b").as("actual"))
      val joined = eval0
        .join(bk.select(col("skey"), (col("t") + DAY).as("t"),
          col("b").as("fs")), Seq("skey", "t"))
        .join(bk.select(col("skey"), (col("t") + SIXH).as("t"),
          col("b").as("fn")), Seq("skey", "t"))
        .filter(abs(col("fs")) + abs(col("actual")) > 0 &&
          abs(col("fn")) + abs(col("actual")) > 0)
      def term(f: Column): Column =
        quant4(lit(2.0) * abs(f - col("actual")).cast("double")
          / (abs(f) + abs(col("actual"))).cast("double"))
      joined
        .withColumn("qs", term(col("fs")))
        .withColumn("qn", term(col("fn")))
        .groupBy("skey")
        .agg(count(lit(1)).as("n"),
          sum(col("qs")).as("ss"), sum(col("qn")).as("sn"))
        .withColumn("smape_snaive",
          col("ss").cast("double") / (col("n").cast("double") * 10000.0))
        .withColumn("smape_naive",
          col("sn").cast("double") / (col("n").cast("double") * 10000.0))
        .select(col("skey"), col("n"),
          round4(col("smape_snaive")).as("smape_snaive"),
          round4(col("smape_naive")).as("smape_naive"),
          when(col("ss") < col("sn"), "snaive")
            .when(col("ss") > col("sn"), "naive")
            .otherwise("tie").as("winner"))
        .orderBy("skey")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""ev AS (
           |  SELECT e.skey, e.t, e.b AS actual, s.b AS fs, n.b AS fn
           |  FROM bk e
           |  JOIN bk s ON s.skey = e.skey AND s.t = e.t - $DAY
           |  JOIN bk n ON n.skey = e.skey AND n.t = e.t - $SIXH
           |  WHERE e.t >= ${T1 - DAY}
           |    AND abs(s.b) + abs(e.b) > 0 AND abs(n.b) + abs(e.b) > 0),
           |qt AS (
           |  SELECT skey,
           |         ${quantSql("""2.0 * abs(CAST(fs - actual AS DOUBLE))
           |              / CAST(abs(fs) + abs(actual) AS DOUBLE)""")} AS qs,
           |         ${quantSql("""2.0 * abs(CAST(fn - actual AS DOUBLE))
           |              / CAST(abs(fn) + abs(actual) AS DOUBLE)""")} AS qn
           |  FROM ev),
           |ag AS (
           |  SELECT skey, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(qs) AS BIGINT) AS ss,
           |         CAST(sum(qn) AS BIGINT) AS sn
           |  FROM qt GROUP BY skey)
           |SELECT skey, n,
           |       ${sroundSql(
                "CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)")}
           |         AS smape_snaive,
           |       ${sroundSql(
                "CAST(sn AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0)")}
           |         AS smape_naive,
           |       CASE WHEN ss < sn THEN 'snaive'
           |            WHEN ss > sn THEN 'naive' ELSE 'tie' END AS winner
           |FROM ag ORDER BY skey""".stripMargin),

    // ---- top movers (day-over-day) ----------------------------------
    // The "what changed the most" triage board: per series, consecutive
    // -day change of the daily mean level (integer floor means on the
    // 1e-4 grid), globally ranked by |Δ| with deterministic ties
    // (skey, day) — top 5 reported. Inputs to the rank are the tiny
    // per-(series, day) aggregates; the rank window costs series×days
    // rows, never points.
    Gate("q_movers", { (s, dir) =>
      val daily = Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(DAY))).as("d"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("skey"), col("d"), expr("sq div n").as("m"))
      val w = Window.partitionBy("skey").orderBy("d")
      val wr = Window.orderBy(abs(col("delta")).desc, col("skey"), col("d"))
      daily
        .withColumn("pm", lag(col("m"), 1).over(w))
        .withColumn("pd", lag(col("d"), 1).over(w))
        .filter(col("pd") === col("d") - DAY)
        .withColumn("delta", col("m") - col("pm"))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("rank"), col("skey"), expr("d div 1000").as("ts"),
          col("pm").as("prev_mean"), col("m").as("cur_mean"), col("delta"))
        .orderBy("rank")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |daily AS (
           |  SELECT skey, ts - ts % $DAY AS d,
           |         CAST(sum(${quantSql("value")}) AS BIGINT)
           |           // CAST(count(*) AS BIGINT) AS m
           |  FROM dedup GROUP BY skey, ts - ts % $DAY),
           |dd AS (
           |  SELECT skey, d, m,
           |         lag(m, 1) OVER w AS pm, lag(d, 1) OVER w AS pd
           |  FROM daily WINDOW w AS (PARTITION BY skey ORDER BY d)),
           |mv AS (
           |  SELECT skey, d, m, pm, m - pm AS delta
           |  FROM dd WHERE pd = d - $DAY),
           |rk AS (
           |  SELECT skey, d, m, pm, delta,
           |         CAST(row_number() OVER (ORDER BY abs(delta) DESC,
           |           skey, d) AS BIGINT) AS rank
           |  FROM mv)
           |SELECT rank, skey, d // 1000 AS ts, pm AS prev_mean,
           |       m AS cur_mean, delta
           |FROM rk WHERE rank <= 5 ORDER BY rank""".stripMargin),

    // ---- cohort retention -------------------------------------------
    // The product-analytics staple over the raw event stream: users
    // cohorted by first-seen day, retention = share of each cohort
    // active k days later. One distinct over (user, day) — the only
    // corpus-sized shuffle — then a per-user min and two bounded
    // aggregations (≤ days² output rows); the rate is an exact integer
    // division. At 100 TB the distinct is the canonical map-side-
    // combined dedup, and everything after it is user-cardinality.
    Gate("q_retention", { (s, dir) =>
      val act = DpView.events(s, dir)
        .select(col("user_id"), DpView.tsMillis.as("ts"))
        .filter(col("ts").between(T0, T1))
        .select(col("user_id"), expr(s"(ts - ${T0}L) div ${DAY}L").as("day"))
        .distinct()
      val first = act.groupBy("user_id").agg(min(col("day")).as("cohort"))
      val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
      act.join(first, Seq("user_id"))
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("k"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("k"), col("n_active"), col("n_cohort"),
          expr("(n_active * 10000) div n_cohort").as("ret_pm"))
        .orderBy("cohort", "k")
    },
      s"""WITH act AS (
         |  SELECT DISTINCT user_id,
         |         (epoch_ms(ts) - $T0) // $DAY AS day
         |  FROM events
         |  WHERE epoch_ms(ts) BETWEEN $T0 AND $T1),
         |first AS (
         |  SELECT user_id, min(day) AS cohort FROM act GROUP BY user_id),
         |sizes AS (
         |  SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort
         |  FROM first GROUP BY cohort),
         |ret AS (
         |  SELECT f.cohort, a.day - f.cohort AS k,
         |         CAST(count(*) AS BIGINT) AS n_active
         |  FROM act a JOIN first f ON f.user_id = a.user_id
         |  GROUP BY f.cohort, a.day - f.cohort)
         |SELECT r.cohort, r.k, r.n_active, s.n_cohort,
         |       (r.n_active * 10000) // s.n_cohort AS ret_pm
         |FROM ret r JOIN sizes s ON s.cohort = r.cohort
         |ORDER BY r.cohort, r.k""".stripMargin),

    // ---- event-type transition matrix -------------------------------
    // First-order Markov audit of the event stream: P(next = j | cur =
    // i) per user journey — which flows dominate, which transitions
    // never happen. One lead window per user (ordered by event time,
    // event_id tiebreak), counts per ordered pair, share by exact
    // integer division against a per-source window total. Output is
    // |types|² bounded regardless of corpus size.
    Gate("q_transitions", { (s, dir) =>
      val ev = DpView.events(s, dir)
        .select(col("user_id"), col("event_type"), DpView.tsMillis.as("ts"),
          col("event_id"))
        .filter(col("ts").between(T0, T1))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wt = Window.partitionBy("cur")
      ev.withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type").as("cur"), col("nxt"))
        .groupBy("cur", "nxt").agg(count(lit(1)).as("cnt"))
        .withColumn("tot", sum(col("cnt")).over(wt))
        .select(col("cur"), col("nxt"), col("cnt"),
          expr("(cnt * 10000) div tot").as("p_pm"))
        .orderBy("cur", "nxt")
    },
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_ms(ts) AS ts, event_id
         |  FROM events
         |  WHERE epoch_ms(ts) BETWEEN $T0 AND $T1),
         |pairs AS (
         |  SELECT event_type AS cur,
         |         lead(event_type, 1) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS nxt
         |  FROM ev),
         |cn AS (
         |  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt),
         |wt AS (
         |  SELECT cur, nxt, cnt,
         |         CAST(sum(cnt) OVER (PARTITION BY cur) AS BIGINT) AS tot
         |  FROM cn)
         |SELECT cur, nxt, cnt, (cnt * 10000) // tot AS p_pm
         |FROM wt ORDER BY cur, nxt""".stripMargin),

    // ---- funnel conversion (view → click → purchase) ----------------
    // Ordered-stage funnel: a user converts a stage only AFTER
    // completing the previous one (min qualifying timestamp chains
    // forward). Three per-user min aggregations glued by equi joins on
    // user_id with a strict-inequality time filter — never a window
    // over the raw stream; stage counts and per-stage conversion are
    // exact integers.
    Gate("q_funnel", { (s, dir) =>
      import s.implicits._
      val ev = DpView.events(s, dir)
        .select(col("user_id"), col("event_type"), DpView.tsMillis.as("ts"))
        .filter(col("ts").between(T0, T1))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("tv"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min(col("ts")).as("tc"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min(col("ts")).as("tp"))
      def stage(df: DataFrame, n: Long, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(n).as("stage"), lit(name).as("event_type"),
            col("n_users"))
      val stages = stage(v, 1L, "view")
        .unionByName(stage(c, 2L, "click"))
        .unionByName(stage(p, 3L, "purchase"))
      val w = Window.orderBy("stage")
      stages
        .withColumn("prev", lag(col("n_users"), 1).over(w))
        .select(col("stage"), col("event_type"), col("n_users"),
          when(col("prev").isNull, 10000L)
            .when(col("prev") === 0, 0L)
            .otherwise(expr("(n_users * 10000) div prev")).as("conv_pm"))
        .orderBy("stage")
    },
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_ms(ts) AS ts
         |  FROM events
         |  WHERE epoch_ms(ts) BETWEEN $T0 AND $T1),
         |v AS (
         |  SELECT user_id, min(ts) AS tv FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (
         |  SELECT e.user_id, min(e.ts) AS tc
         |  FROM ev e JOIN v ON v.user_id = e.user_id
         |  WHERE e.event_type = 'click' AND e.ts > v.tv
         |  GROUP BY e.user_id),
         |p AS (
         |  SELECT e.user_id, min(e.ts) AS tp
         |  FROM ev e JOIN c ON c.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > c.tc
         |  GROUP BY e.user_id),
         |stages AS (
         |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
         |         CAST(count(*) AS BIGINT) AS n_users FROM v
         |  UNION ALL
         |  SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM c
         |  UNION ALL
         |  SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p),
         |cv AS (
         |  SELECT stage, event_type, n_users,
         |         lag(n_users, 1) OVER (ORDER BY stage) AS prev
         |  FROM stages)
         |SELECT stage, event_type, n_users,
         |       CAST(CASE WHEN prev IS NULL THEN 10000
         |            WHEN prev = 0 THEN 0
         |            ELSE (n_users * 10000) // prev END AS BIGINT)
         |         AS conv_pm
         |FROM cv ORDER BY stage""".stripMargin),

    // ---- seasonal strength (Hyndman & Athanasopoulos) ---------------
    // F_s = max(0, 1 − Var(remainder)/Var(detrended)) per series — ONE
    // number answering "is this series actually seasonal", the triage
    // before paying for Holt-Winters over plain Holt (the forecasting
    // family's model-selection gate). Components come from the exact
    // q_stl chain (5-bucket moving-average trend, per-phase seasonal
    // means); both variances are exact integer moments on a shared
    // 1e-2 remainder grid, quantized per term BEFORE the sums.
    Gate("q_seasonal_strength", { (s, dir) =>
      val w = Window.partitionBy("skey").orderBy("t").rowsBetween(-2, 2)
      val det = buckets6h(s, dir, "view")
        .withColumn("tsum", sum(col("b")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") === 5)
        .withColumn("qdet",
          floor((col("b").cast("double")
            - col("tsum").cast("double") / 5.0) * 10 + 0.5 + 1e-6)
            .cast("long"))
        .withColumn("phase", expr(s"((t - ${T0}L) div ${SIXH}L) % 4"))
      val seas = det.groupBy("skey", "phase")
        .agg(sum(col("qdet")).as("sq"), count(lit(1)).as("nq"))
        .withColumn("seasonal",
          col("sq").cast("double") / (col("nq").cast("double") * 10.0))
        .select("skey", "phase", "seasonal")
      det.join(seas, Seq("skey", "phase"))
        .withColumn("rq",
          floor((col("qdet").cast("double") / 10.0 - col("seasonal"))
            * 100 + 0.5 + 1e-6).cast("long"))
        .withColumn("dq", col("qdet") * 10)
        .groupBy("skey")
        .agg(count(lit(1)).as("n"),
          sum(col("rq")).as("sr"), sum(col("rq") * col("rq")).as("srr"),
          sum(col("dq")).as("sd"), sum(col("dq") * col("dq")).as("sdd"))
        .withColumn("vr", col("n") * col("srr") - col("sr") * col("sr"))
        .withColumn("vd", col("n") * col("sdd") - col("sd") * col("sd"))
        .filter(col("n") >= 8 && col("vd") > 0)
        .select(col("skey"), col("n"),
          round4(greatest(lit(0.0),
            lit(1.0) - col("vr").cast("double") / col("vd").cast("double")))
            .as("f_seasonal"))
        .orderBy("skey")
    },
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""tr AS (
           |  SELECT skey, t, b,
           |         CAST(sum(b) OVER w AS BIGINT) AS tsum,
           |         count(*) OVER w AS cnt
           |  FROM bk
           |  WINDOW w AS (PARTITION BY skey ORDER BY t
           |               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
           |det AS (
           |  SELECT skey, t,
           |         CAST(floor((CAST(b AS DOUBLE)
           |              - CAST(tsum AS DOUBLE) / 5.0)
           |              * 10 + 0.5 + 1e-6) AS BIGINT) AS qdet,
           |         ((t - $T0) // $SIXH) % 4 AS phase
           |  FROM tr WHERE cnt = 5),
           |seas AS (
           |  SELECT skey, phase,
           |         CAST(sum(qdet) AS DOUBLE)
           |           / (CAST(count(*) AS DOUBLE) * 10.0) AS seasonal
           |  FROM det GROUP BY skey, phase),
           |j AS (
           |  SELECT d.skey,
           |         CAST(floor((CAST(d.qdet AS DOUBLE) / 10.0 - s.seasonal)
           |              * 100 + 0.5 + 1e-6) AS BIGINT) AS rq,
           |         d.qdet * 10 AS dq
           |  FROM det d JOIN seas s
           |    ON d.skey = s.skey AND d.phase = s.phase),
           |ag AS (
           |  SELECT skey, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(rq) AS BIGINT) AS sr,
           |         CAST(sum(rq * rq) AS BIGINT) AS srr,
           |         CAST(sum(dq) AS BIGINT) AS sd,
           |         CAST(sum(dq * dq) AS BIGINT) AS sdd
           |  FROM j GROUP BY skey),
           |v AS (
           |  SELECT skey, n, n * srr - sr * sr AS vr,
           |         n * sdd - sd * sd AS vd
           |  FROM ag)
           |SELECT skey, n,
           |       ${sroundSql(
                "greatest(0.0, 1.0 - CAST(vr AS DOUBLE) / CAST(vd AS DOUBLE))")}
           |         AS f_seasonal
           |FROM v WHERE n >= 8 AND vd > 0 ORDER BY skey""".stripMargin),

    // ---- trimmed mean (robust location) -----------------------------
    // Per-series mean with the lowest and highest 10% of points (k =
    // n div 10 each side) dropped by rank — the robust level estimate
    // a single stuck-counter spike can't move (the mean the reference's
    // avg aggregator reports is spike-hostage). Pure integer selection:
    // one rank window on the 1e-4 value grid (tie order among equal
    // values provably doesn't change the kept multiset), one exact
    // integer sum, one fixed-shape readout division.
    Gate("q_trimmed_mean", { (s, dir) =>
      val d = Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
      val wr = Window.partitionBy("skey").orderBy(col("q"), col("ts"))
      val wa = Window.partitionBy("skey")
      d.withColumn("i", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wa))
        .withColumn("k", expr("n div 10"))
        .filter(col("i") > col("k") && col("i") <= col("n") - col("k"))
        .groupBy("skey")
        .agg(count(lit(1)).as("m"), sum(col("q")).as("sq"),
          max(col("n")).as("n"), max(col("k")).as("k"))
        .select(col("skey"), col("n"), col("k"),
          round4(col("sq").cast("double")
            / (col("m").cast("double") * 10000.0)).as("tmean"))
        .orderBy("skey")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |qq AS (
           |  SELECT skey, ts,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |rk AS (
           |  SELECT skey, q,
           |         CAST(row_number() OVER (PARTITION BY skey
           |           ORDER BY q, ts) AS BIGINT) AS i,
           |         CAST(count(*) OVER (PARTITION BY skey) AS BIGINT) AS n
           |  FROM qq),
           |kept AS (
           |  SELECT skey, q, n, n // 10 AS k
           |  FROM rk WHERE i > n // 10 AND i <= n - n // 10),
           |ag AS (
           |  SELECT skey, CAST(max(n) AS BIGINT) AS n,
           |         CAST(max(k) AS BIGINT) AS k,
           |         CAST(count(*) AS BIGINT) AS m,
           |         CAST(sum(q) AS BIGINT) AS sq
           |  FROM kept GROUP BY skey)
           |SELECT skey, n, k,
           |       ${sroundSql(
                "CAST(sq AS DOUBLE) / (CAST(m AS DOUBLE) * 10000.0)")}
           |         AS tmean
           |FROM ag ORDER BY skey""".stripMargin),

    // ---- seasonal percentile envelope -------------------------------
    // Per series, the p10/p50/p90 "normal band" of each time-of-day
    // slot (four 6h phases) over the whole window — what dashboards
    // shade behind the live line, and what threshold-free anomaly
    // highlighting compares against. Exact R-6 percentiles via the
    // shared GraftFunctions recipe (same interpolation the q_ds_pNN
    // family proves cross-engine); one dedup + one (skey, phase)
    // aggregation whose collect_list is bounded by the window's points
    // per phase, never the corpus.
    Gate("q_percentile_band", { (s, dir) =>
      import graft.functions.GraftFunctions.exactPercentile
      Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "view" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("slot",
          expr(s"pmod(ts - ${T0}L, ${DAY}L) div ${SIXH}L"))
        .groupBy(col("skey"), col("slot"))
        .agg(count(lit(1)).as("n"),
          exactPercentile(col("value"), 10).as("p10_"),
          exactPercentile(col("value"), 50).as("p50_"),
          exactPercentile(col("value"), 90).as("p90_"))
        .select(col("skey"), col("slot"), col("n"),
          round4(col("p10_")).as("p10"), round4(col("p50_")).as("p50"),
          round4(col("p90_")).as("p90"))
        .orderBy("skey", "slot")
    },
      {
        def pct(p: String) =
          s"(CASE WHEN len(l) = 1 THEN l[1]" +
            s" WHEN $p*(len(l)+1) < 1 THEN l[1]" +
            s" WHEN $p*(len(l)+1) >= len(l) THEN l[len(l)]" +
            s" ELSE l[CAST(floor($p*(len(l)+1)) AS INT)]" +
            s" + ($p*(len(l)+1) - floor($p*(len(l)+1)))" +
            s" * (l[CAST(floor($p*(len(l)+1)) AS INT) + 1]" +
            s" - l[CAST(floor($p*(len(l)+1)) AS INT)]) END)"
        dpCte + ",\n" +
          s"""dedup AS (
             |  SELECT skey, ts, arg_max(value, seq) AS value
             |  FROM dp
             |  WHERE metric = 'view' AND ts BETWEEN $T0 AND $T1
             |  GROUP BY skey, ts),
             |g AS (
             |  SELECT skey, ((ts - $T0) % $DAY) // $SIXH AS slot,
             |         CAST(count(*) AS BIGINT) AS n,
             |         list(value ORDER BY value) AS l
             |  FROM dedup GROUP BY 1, 2)
             |SELECT skey, slot, n,
             |       ${sroundSql(pct("0.1"))} AS p10,
             |       ${sroundSql(pct("0.5"))} AS p50,
             |       ${sroundSql(pct("0.9"))} AS p90
             |FROM g ORDER BY skey, slot""".stripMargin
      }),

    // ---- rolling cross-metric correlation ---------------------------
    // q_xcorr gives ONE coefficient per entity for the whole window;
    // this gives the correlation TRAJECTORY — a 12-bucket (3-day)
    // rolling Pearson between view and click per entity, the
    // "correlation breakdown" detector (two series that always moved
    // together decoupling is the incident signal a global r dilutes
    // away). Five running integer moments over one bounded window
    // frame on the joined bucket grid; full windows only (n = 12), r is
    // the same fixed-shape expression as q_xcorr per row. No
    // re-aggregation per offset — the frame reuses one sort.
    Gate("q_rolling_corr", { (s, dir) =>
      val a = buckets6h(s, dir, "view")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("bx"))
      val c = buckets6h(s, dir, "click")
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          col("t"), col("b").as("byy"))
      val w = Window.partitionBy("tkey").orderBy("t").rowsBetween(-11, 0)
      a.join(c, Seq("tkey", "t"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("bx")).over(w))
        .withColumn("sy", sum(col("byy")).over(w))
        .withColumn("sxy", sum(col("bx") * col("byy")).over(w))
        .withColumn("sxx", sum(col("bx") * col("bx")).over(w))
        .withColumn("syy", sum(col("byy") * col("byy")).over(w))
        .filter(col("n") === 12)
        .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("vx") > 0 && col("vy") > 0)
        .withColumn("r",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(col("vx").cast("double") * col("vy").cast("double")))
        .select(col("tkey"), expr("t div 1000").as("ts"),
          round4(col("r")).as("r"))
        .orderBy("tkey", "ts")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric IN ('view', 'click') AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         CASE WHEN skey LIKE 'view%' THEN 'view' ELSE 'click' END AS m,
           |         ts - ts % $SIXH AS t,
           |         CAST(sum(${quantSql("value")})
           |              AS BIGINT) // 100 AS b
           |  FROM dedup GROUP BY 1, 2, 3),
           |pr AS (
           |  SELECT x.tkey, x.t, x.b AS bx, y.b AS byy
           |  FROM bk x JOIN bk y ON y.tkey = x.tkey AND y.t = x.t
           |  WHERE x.m = 'view' AND y.m = 'click'),
           |roll AS (
           |  SELECT tkey, t,
           |    CAST(count(*) OVER fr AS BIGINT) AS n,
           |    CAST(sum(bx) OVER fr AS BIGINT) AS sx,
           |    CAST(sum(byy) OVER fr AS BIGINT) AS sy,
           |    CAST(sum(bx * byy) OVER fr AS BIGINT) AS sxy,
           |    CAST(sum(bx * bx) OVER fr AS BIGINT) AS sxx,
           |    CAST(sum(byy * byy) OVER fr AS BIGINT) AS syy
           |  FROM pr
           |  WINDOW fr AS (PARTITION BY tkey ORDER BY t
           |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
           |v AS (
           |  SELECT tkey, t, n, sxy, sx, sy,
           |         n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
           |  FROM roll WHERE n = 12)
           |SELECT tkey, t // 1000 AS ts,
           |       ${sroundSql(
                "CAST(n * sxy - sx * sy AS DOUBLE) / " +
                "sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))")} AS r
           |FROM v WHERE vx > 0 AND vy > 0
           |ORDER BY tkey, ts""".stripMargin),

    // ---- partial autocorrelation (Durbin–Levinson) ------------------
    // PACF at lags 1..4 — the AR-order diagnostic the raw ACF can't
    // give (an AR(1) series shows geometric ACF at EVERY lag but PACF
    // ≈ 0 past lag 1). Lagged Pearson ρ per (series, lag) exactly as
    // q_acf (exact integer moments, equi-join on the shifted bucket
    // key), quantized to a 1e-6 integer grid so both engines start DL
    // from identical doubles; the recursion is UNROLLED as one
    // fixed-shape IEEE expression chain (φ-columns per level, near-
    // singular denominators filtered) — the per-series work is O(K²)
    // scalar ops on a 4-column row, nothing iterates over data.
    Gate("q_pacf", { (s, dir) => CacheScope.eager { cache =>
      val b = cache.keep(buckets6h(s, dir, "view"))
      val lagged = b
        .select(col("skey"), col("t"), col("b").as("bx"),
          explode(array((1 to 4).map(lit(_)): _*)).as("k"))
        .select(col("skey"), col("k"),
          (col("t") + col("k") * SIXH).as("t"), col("bx"))
      val rho = lagged
        .join(b.withColumnRenamed("b", "by"), Seq("skey", "t"))
        .groupBy(col("skey"), col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("bx")).as("sx"), sum(col("by")).as("sy"),
          sum(col("bx") * col("by")).as("sxy"),
          sum(col("bx") * col("bx")).as("sxx"),
          sum(col("by") * col("by")).as("syy"))
        .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") >= 8 && col("vx") > 0 && col("vy") > 0)
        .withColumn("rq",
          floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(col("vx").cast("double") * col("vy").cast("double"))
            * 1000000 + 0.5 + 1e-6).cast("long"))
      def lag(k: Int): Column =
        max(when(col("k") === k, col("rq"))).as(s"rq$k")
      val piv = rho.groupBy("skey")
        .agg(count(lit(1)).as("nl"), lag(1), lag(2), lag(3), lag(4))
        .filter(col("nl") === 4)
      def r(k: Int): Column = col(s"rq$k").cast("double") / 1000000.0
      piv
        .withColumn("r1", r(1)).withColumn("r2", r(2))
        .withColumn("r3", r(3)).withColumn("r4", r(4))
        .withColumn("f11", col("r1"))
        .filter(abs(lit(1.0) - col("f11") * col("r1")) > 1e-12)
        .withColumn("f22", (col("r2") - col("f11") * col("r1"))
          / (lit(1.0) - col("f11") * col("r1")))
        .withColumn("f21", col("f11") - col("f22") * col("f11"))
        .filter(abs(lit(1.0)
          - (col("f21") * col("r1") + col("f22") * col("r2"))) > 1e-12)
        .withColumn("f33",
          (col("r3") - (col("f21") * col("r2") + col("f22") * col("r1")))
            / (lit(1.0)
              - (col("f21") * col("r1") + col("f22") * col("r2"))))
        .withColumn("f31", col("f21") - col("f33") * col("f22"))
        .withColumn("f32", col("f22") - col("f33") * col("f21"))
        .filter(abs(lit(1.0) - (col("f31") * col("r1")
          + col("f32") * col("r2") + col("f33") * col("r3"))) > 1e-12)
        .withColumn("f44",
          (col("r4") - (col("f31") * col("r3") + col("f32") * col("r2")
            + col("f33") * col("r1")))
            / (lit(1.0) - (col("f31") * col("r1")
              + col("f32") * col("r2") + col("f33") * col("r3"))))
        .select(col("skey"), round4(col("f11")).as("pacf1"),
          round4(col("f22")).as("pacf2"), round4(col("f33")).as("pacf3"),
          round4(col("f44")).as("pacf4"))
        .orderBy("skey")
    }},
      dpCte + ",\n" + bucketsCte("view") + ",\n" +
        s"""pr AS (
           |  SELECT x.skey, kk.k, x.b AS bx, y.b AS byy
           |  FROM bk x
           |  CROSS JOIN (VALUES (1), (2), (3), (4)) AS kk(k)
           |  JOIN bk y ON y.skey = x.skey AND y.t = x.t + kk.k * $SIXH),
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
           |  FROM ag),
           |r6 AS (
           |  SELECT skey, k,
           |         CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
           |           / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
           |           * 1000000 + 0.5 + 1e-6) AS BIGINT) AS rq
           |  FROM v WHERE n >= 8 AND vx > 0 AND vy > 0),
           |pv AS (
           |  SELECT skey,
           |         max(CASE WHEN k = 1 THEN rq END) AS rq1,
           |         max(CASE WHEN k = 2 THEN rq END) AS rq2,
           |         max(CASE WHEN k = 3 THEN rq END) AS rq3,
           |         max(CASE WHEN k = 4 THEN rq END) AS rq4
           |  FROM r6 GROUP BY skey HAVING count(*) = 4),
           |rr AS (
           |  SELECT skey,
           |         CAST(rq1 AS DOUBLE) / 1000000.0 AS r1,
           |         CAST(rq2 AS DOUBLE) / 1000000.0 AS r2,
           |         CAST(rq3 AS DOUBLE) / 1000000.0 AS r3,
           |         CAST(rq4 AS DOUBLE) / 1000000.0 AS r4
           |  FROM pv),
           |d1 AS (SELECT skey, r1, r2, r3, r4, r1 AS f11 FROM rr),
           |d2 AS (
           |  SELECT skey, r1, r2, r3, r4, f11,
           |         (r2 - f11 * r1) / (1.0 - f11 * r1) AS f22
           |  FROM d1 WHERE abs(1.0 - f11 * r1) > 1e-12),
           |d2b AS (SELECT *, f11 - f22 * f11 AS f21 FROM d2),
           |d3 AS (
           |  SELECT *, (r3 - (f21 * r2 + f22 * r1))
           |            / (1.0 - (f21 * r1 + f22 * r2)) AS f33
           |  FROM d2b WHERE abs(1.0 - (f21 * r1 + f22 * r2)) > 1e-12),
           |d3b AS (SELECT *, f21 - f33 * f22 AS f31,
           |               f22 - f33 * f21 AS f32 FROM d3),
           |d4 AS (
           |  SELECT *, (r4 - (f31 * r3 + f32 * r2 + f33 * r1))
           |            / (1.0 - (f31 * r1 + f32 * r2 + f33 * r3)) AS f44
           |  FROM d3b
           |  WHERE abs(1.0 - (f31 * r1 + f32 * r2 + f33 * r3)) > 1e-12)
           |SELECT skey, ${sroundSql("f11")} AS pacf1,
           |       ${sroundSql("f22")} AS pacf2,
           |       ${sroundSql("f33")} AS pacf3,
           |       ${sroundSql("f44")} AS pacf4
           |FROM d4 ORDER BY skey""".stripMargin),

    // ---- Apdex score (per series per day) ---------------------------
    // The latency-SLO summary ops dashboards report: satisfied
    // (value ≤ T), tolerating (value ≤ 4T), apdex = (sat + tol/2)/n.
    // T = 100 value units = 1e6 on the 1e-4 grid. Reported on a per-10k
    // integer grid via one exact integer division — nothing floats, so
    // the oracle replays bit-free. One dedup + one day aggregation,
    // both map-side combined; per-series state is three counters.
    Gate("q_apdex", { (s, dir) =>
      Dp.withSeriesKey(
        DpView.dp(s, dir)
          .filter(col("metric") === "click" && col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .groupBy(col("skey"), (col("ts") - pmod(col("ts"), lit(DAY))).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("q") <= 1000000L, 1L).otherwise(0L)).as("sat"),
          sum(when(col("q") > 1000000L && col("q") <= 4000000L, 1L)
            .otherwise(0L)).as("tol"))
        .select(col("skey"), expr("d div 1000").as("ts"), col("n"),
          col("sat"), col("tol"),
          expr("((2 * sat + tol) * 10000) div (2 * n)").as("apdex_pm"))
        .orderBy("skey", "ts")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE metric = 'click' AND ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |ag AS (
           |  SELECT skey, ts - ts % $DAY AS d,
           |         CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(CASE WHEN
           |             ${quantSql("value")}
           |               <= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS sat,
           |         CAST(sum(CASE WHEN
           |             ${quantSql("value")}
           |               > 1000000 AND
           |             ${quantSql("value")}
           |               <= 4000000 THEN 1 ELSE 0 END) AS BIGINT) AS tol
           |  FROM dedup GROUP BY skey, ts - ts % $DAY)
           |SELECT skey, d // 1000 AS ts, n, sat, tol,
           |       ((2 * sat + tol) * 10000) // (2 * n) AS apdex_pm
           |FROM ag ORDER BY skey, ts""".stripMargin),

    // ---- SRE error-budget burn rate (multi-window) ------------------
    // The Google SRE workbook's multi-window multi-burn-rate alert:
    // per entity per 1h bucket, error-event share of ALL events vs a
    // 25% budget, alongside the rolling 6h share — alert only when BOTH
    // windows burn >1× (fast spike + sustained). burn = rate/budget as
    // one exact integer division (rate·4 on the per-10k grid). One
    // dedup over the five metrics, one bucket aggregation, one 6-row
    // bounded window per entity — no joins, the long window is a frame
    // over the SAME bucket relation the short one reads.
    Gate("q_burn_rate", { (s, dir) =>
      val HOUR = 3600000L
      val bk = Dp.withSeriesKey(
        DpView.dp(s, dir).filter(col("ts").between(T0, T1)))
        .groupBy(col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .select(expr("substring(skey, instr(skey, ',') + 1)").as("tkey"),
          expr("substring_index(skey, ',', 1)").as("m"), col("ts"))
        .groupBy(col("tkey"),
          (col("ts") - pmod(col("ts"), lit(HOUR))).as("t"))
        .agg(count(lit(1)).as("tot"),
          sum(when(col("m") === "error", 1L).otherwise(0L)).as("err"))
      val w = Window.partitionBy("tkey").orderBy("t").rowsBetween(-5, 0)
      bk.withColumn("stot", sum(col("tot")).over(w))
        .withColumn("serr", sum(col("err")).over(w))
        .select(col("tkey"), expr("t div 1000").as("ts"),
          col("tot"), col("err"),
          expr("(err * 40000) div tot").as("burn1_pm"),
          expr("(serr * 40000) div stot").as("burn6_pm"))
        .withColumn("alert",
          when(col("burn1_pm") > 10000 && col("burn6_pm") > 10000, 1L)
            .otherwise(0L))
        .orderBy("tkey", "ts")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT skey, ts, arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE ts BETWEEN $T0 AND $T1
           |  GROUP BY skey, ts),
           |bk AS (
           |  SELECT substr(skey, instr(skey, ',') + 1) AS tkey,
           |         ts - ts % 3600000 AS t,
           |         CAST(count(*) AS BIGINT) AS tot,
           |         CAST(sum(CASE WHEN skey LIKE 'error,%' THEN 1 ELSE 0 END)
           |              AS BIGINT) AS err
           |  FROM dedup GROUP BY 1, 2),
           |roll AS (
           |  SELECT tkey, t, tot, err,
           |         CAST(sum(tot) OVER (PARTITION BY tkey ORDER BY t
           |           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
           |           AS stot,
           |         CAST(sum(err) OVER (PARTITION BY tkey ORDER BY t
           |           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
           |           AS serr
           |  FROM bk)
           |SELECT tkey, t // 1000 AS ts, tot, err,
           |       (err * 40000) // tot AS burn1_pm,
           |       (serr * 40000) // stot AS burn6_pm,
           |       CAST(CASE WHEN (err * 40000) // tot > 10000
           |             AND (serr * 40000) // stot > 10000
           |            THEN 1 ELSE 0 END AS BIGINT) AS alert
           |FROM roll ORDER BY tkey, ts""".stripMargin),

    // ---- Benford first-digit audit ----------------------------------
    // Does each metric's value population follow Benford's law — the
    // data-quality / fraud screen auditors run before trusting a feed
    // (synthetic or truncated feeds flunk it). First significant digit
    // read off the 1e-4 integer grid (every value ≥ 0.01 ⇒ q ≥ 100, so
    // the leading character of the integer IS the digit — no float
    // log10); per-mille observed frequency by exact integer division
    // against a window total; expectation is a hardcoded integer
    // per-mille table (⌊log10(1+1/d)·1000⌋) broadcast-joined. One
    // dedup + one 9-row-per-metric aggregation.
    Gate("q_benford", { (s, dir) =>
      import s.implicits._
      val exp = Seq(1 -> 301L, 2 -> 176L, 3 -> 124L, 4 -> 96L, 5 -> 79L,
        6 -> 66L, 7 -> 57L, 8 -> 51L, 9 -> 45L).toDF("digit", "exp_pm")
      val d = Dp.withSeriesKey(
        DpView.dp(s, dir).filter(col("ts").between(T0, T1)))
        .groupBy(col("metric"), col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
        .withColumn("digit",
          substring(col("q").cast("string"), 1, 1).cast("int"))
        .groupBy("metric", "digit").agg(count(lit(1)).as("cnt"))
      val wt = Window.partitionBy("metric")
      d.withColumn("tot", sum(col("cnt")).over(wt))
        .join(broadcast(exp), Seq("digit"))
        .select(col("metric"), col("digit"), col("cnt"),
          expr("(cnt * 1000) div tot").as("freq_pm"), col("exp_pm"))
        .withColumn("dev_pm", col("freq_pm") - col("exp_pm"))
        .orderBy("metric", "digit")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT split_part(skey, ',', 1) AS metric, skey, ts,
           |         arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE ts BETWEEN $T0 AND $T1
           |  GROUP BY 1, 2, 3),
           |dg AS (
           |  SELECT metric,
           |         CAST(substr(CAST(
           |             ${quantSql("value")}
           |           AS VARCHAR), 1, 1) AS INT) AS digit
           |  FROM dedup),
           |cn AS (
           |  SELECT metric, digit, CAST(count(*) AS BIGINT) AS cnt
           |  FROM dg GROUP BY metric, digit),
           |wt AS (
           |  SELECT metric, digit, cnt,
           |         CAST(sum(cnt) OVER (PARTITION BY metric) AS BIGINT) AS tot
           |  FROM cn)
           |SELECT metric, digit, cnt,
           |       (cnt * 1000) // tot AS freq_pm, exp_pm,
           |       (cnt * 1000) // tot - exp_pm AS dev_pm
           |FROM wt JOIN (VALUES (1, CAST(301 AS BIGINT)), (2, 176), (3, 124),
           |       (4, 96), (5, 79), (6, 66), (7, 57), (8, 51), (9, 45))
           |       b(digit, exp_pm) USING (digit)
           |ORDER BY metric, digit""".stripMargin),

    // ---- Gini concentration index -----------------------------------
    // How unequal is each metric's value distribution (0 = uniform,
    // →1 = mass on few points) — the concentration summary behind
    // "are a few users generating all the load". Computed on the 1e-4
    // integer grid via the sorted-rank identity
    // G = (2·Σi·qᵢ − (n+1)·Σq)/(n·Σq): one rank window per metric
    // (tie order among equal q provably cancels in Σi·qᵢ), exact
    // integer moments, one fixed-shape IEEE division at readout.
    Gate("q_gini", { (s, dir) =>
      val d = Dp.withSeriesKey(
        DpView.dp(s, dir).filter(col("ts").between(T0, T1)))
        .groupBy(col("metric"), col("skey"), col("ts"))
        .agg(max_by(col("value"), col("seq")).as("value"))
        .withColumn("q", quant4(col("value")))
      val w = Window.partitionBy("metric").orderBy("q")
      d.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          // Σi·q can exceed int64 at 100× scale (DuckDB promotes to
          // HUGEINT; Spark would wrap silently) — accumulate in
          // decimal(38,0) so both engines stay exact
          sum(col("i").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
            .as("siq"))
        .filter(col("sq") > 0)
        .select(col("metric"), col("n"),
          round4((lit(2.0) * col("siq").cast("double")
            - (col("n") + 1).cast("double") * col("sq").cast("double"))
            / (col("n").cast("double") * col("sq").cast("double")))
            .as("gini"))
        .orderBy("metric")
    },
      dpCte + ",\n" +
        s"""dedup AS (
           |  SELECT split_part(skey, ',', 1) AS metric, skey, ts,
           |         arg_max(value, seq) AS value
           |  FROM dp
           |  WHERE ts BETWEEN $T0 AND $T1
           |  GROUP BY 1, 2, 3),
           |qq AS (
           |  SELECT metric,
           |         ${quantSql("value")} AS q
           |  FROM dedup),
           |rk AS (
           |  SELECT metric, q,
           |         CAST(row_number() OVER (PARTITION BY metric ORDER BY q)
           |              AS BIGINT) AS i
           |  FROM qq),
           |ag AS (
           |  SELECT metric, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(q) AS BIGINT) AS sq,
           |         CAST(sum(i * q) AS BIGINT) AS siq
           |  FROM rk GROUP BY metric)
           |SELECT metric, n,
           |       ${sroundSql(
                "(2.0 * CAST(siq AS DOUBLE)" +
                " - CAST(n + 1 AS DOUBLE) * CAST(sq AS DOUBLE))" +
                " / (CAST(n AS DOUBLE) * CAST(sq AS DOUBLE))")} AS gini
           |FROM ag WHERE sq > 0 ORDER BY metric""".stripMargin)
  )
}
