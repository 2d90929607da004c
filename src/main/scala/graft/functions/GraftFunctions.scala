package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine scalar/aggregate building blocks. All are *compositions of
  * built-in codegen'd functions* (no UDFs, no UDAF objects): they stay
  * inside whole-stage codegen and have 1:1 SQL equivalents for the DuckDB
  * oracle.
  */
object GraftFunctions {

  /** The 4-decimal rounding rule shared with the DuckDB oracles
    * (`SparkEntry.sroundSql`): `floor(x*10⁴ + 0.5 + 1e-6)/10⁴` evaluates
    * identically in Spark and DuckDB on the same input double, unlike
    * `round()` (Spark rounds the exact decimal expansion, DuckDB rounds
    * after an fp multiply — they disagree on boundary doubles).
    */
  def round4(c: Column): Column = floor(c * 10000 + 0.5 + 1e-6) / 10000.0

  /** [[round4]]'s grid index as a long: an integer that sums in any order. */
  def quant4(c: Column): Column = floor(c * 10000 + 0.5 + 1e-6).cast("long")

  /** JVM twin of [[quant4]]; `quant4(x) / 10000.0` is [[round4]]'s value. */
  def quant4(x: Double): Long = math.floor(x * 10000 + 0.5 + 1e-6).toLong

  /** Exact OpenTSDB percentile, replicating the reference's R-6-style
    * interpolation (`src/agg/aggregate.cpp:341-387`):
    *
    *   idx = p*(n+1)  (p∈(0,1); p==0 → 0, p==1 → n)
    *   idx <  1  → v[0];   idx >= n → v[n-1]
    *   else lower = v[⌊idx⌋-1], upper = v[⌊idx⌋]  (1-based),
    *        result = lower + (idx-⌊idx⌋)·(upper-lower)
    *
    * Note Hive/Spark built-in `percentile` uses `p*(n-1)` (R-7) — hence
    * this custom form. NaN/Inf are excluded like the reference
    * (`AggregatorPercentile::add_data_point`). `quantile` is the raw pNNN
    * number: 50, 99, 999 → normalized by /10 until ≤ 100
    * (`set_quantile`, aggregate.cpp:329-337).
    *
    * Implemented as sort_array(collect_list(..)) + interpolation — an
    * aggregate *expression*, usable inside any groupBy. Per-group state is
    * the value array, exactly like the reference (aggregate.h:186-190).
    */
  /** pNNN quantile normalization shared by the exact and approx paths
    * (and mirrored by the oracle SQL builder): divide by 10 until ≤ 100,
    * then scale to (0,1) — reference `set_quantile`,
    * aggregate.cpp:329-337.
    */
  def normalizeQuantile(raw: Double): Double = {
    var q = raw
    while (q > 100.0) q /= 10.0
    q / 100.0
  }

  def exactPercentile(value: Column, quantile: Double): Column = {
    val p = normalizeQuantile(quantile)
    val arr = sort_array(collect_list(
      when(!isnan(value) && value =!= Double.PositiveInfinity &&
        value =!= Double.NegativeInfinity, value)))
    val n = size(arr)
    val idx =
      if (p == 0.0) lit(0.0)
      else if (p == 1.0) n.cast("double")
      else (n + 1).cast("double") * lit(p)
    val iidx = idx.cast("int") // truncation, as the reference's (int)idx
    val lower = element_at(arr, iidx)
    val upper = element_at(arr, iidx + 1)
    when(n === 0, lit(null).cast("double"))
      .when(n === 1, element_at(arr, 1))
      .when(idx < 1.0, element_at(arr, 1))
      .when(idx >= n.cast("double"), element_at(arr, n))
      .otherwise(lower + (idx - floor(idx)) * (upper - lower))
  }

  /** Cross-series / downsample aggregator dispatch. Name set mirrors the
    * reference's registry (`src/agg/aggregate.cpp:33-36`) minus
    * none/topN/bottomN which are not value aggregations.
    *   - dev is population stddev: both the downsampler
    *     (`include/down.h:151-155`, sqrt(m2/count)) and the cross-series
    *     Welford (`aggregate.cpp:263-294`, divides by n=values.size())
    *     compute σ over n.
    *   - first/last = value at min/max `ts` (input is time-sorted in the
    *     reference; ties broken by ts only). Callers pass the series key
    *     as `ts` for cross-series first/last (rows in a group share the
    *     timestamp there).
    *   - `approxPercentileAccuracy`: when set, pNN uses Spark's
    *     `percentile_approx` (t-digest-style sketch, mergeable,
    *     O(accuracy) state) instead of the exact sort-based form. The
    *     exact form matches the reference bit-for-bit but buffers every
    *     group value — the right default, and safe for downsample buckets
    *     (group size = points per series-bucket); the sketch is the scale
    *     path for cross-series percentiles over unbounded series counts.
    */
  def aggFor(name: String, value: Column, ts: Column,
      approxPercentileAccuracy: Option[Int] = None): Column = name match {
    case "avg" => avg(value)
    case "sum" => sum(value)
    case "count" => count(value).cast("double")
    case "max" => max(value)
    case "min" => min(value)
    case "dev" => coalesce(stddev_pop(value), lit(Double.NaN))
    case "first" => min_by(value, ts)
    case "last" => max_by(value, ts)
    case p if p.startsWith("p") && p.drop(1).forall(_.isDigit) =>
      approxPercentileAccuracy match {
        case Some(acc) =>
          percentile_approx(value, lit(normalizeQuantile(p.drop(1).toDouble)), lit(acc))
        case None => exactPercentile(value, p.drop(1).toDouble)
      }
    case other => throw new IllegalArgumentException(s"unknown aggregator: $other")
  }

  /** Cosine similarity between two float/double vectors, computed in
    * double via sequential fold (deterministic, order-preserving —
    * matches DuckDB's list_dot_product evaluation).
    */
  def cosineSim(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Native codegen'd dot product over `ARRAY<DOUBLE>` columns — one
    * compact Catalyst [[DotProduct]] node generating a tight primitive
    * loop. Left-fold addition order, identical to [[cosineSim]] and
    * DuckDB's list_dot_product (bit-for-bit same result).
    */
  def dotp(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      DotProduct(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Deterministic 60-bit hash of a string shared with the oracle:
    * first 15 hex chars of md5, as a BIGINT. (DuckDB:
    * `CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)`.)
    */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** JVM twin of [[md5Hash60]] (top 60 bits of the md5 digest) — for
    * driver-side precomputation of literal keys (e.g. vocabulary piece
    * scores) that must agree with the oracle's `substr(md5(x),1,15)`.
    */
  def md5Hash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h >>> 4
  }

  /** Nearest-centroid id over a codebook — ONE [[NearestCentroid]] node
    * carrying the centroids as data, so k=256 production codebooks
    * compile where k literal structs would not. `book` must be sorted
    * by ascending cid (ties resolve to the first = smallest cid, the
    * `least()`-over-structs contract).
    */
  def nearestCid(v: Column, book: Seq[(Long, Seq[Double])]): Column = {
    require(book.nonEmpty, "empty codebook")
    val sub = book.head._2.size
    org.apache.spark.sql.GraftSqlBridge.column(
      NearestCentroid(
        org.apache.spark.sql.GraftSqlBridge.expression(v),
        book.map(_._1).toArray,
        book.flatMap(_._2).toArray,
        // same left-fold Σc² the literal form baked in — bit-identical
        book.map(_._2.map(x => x * x).sum).toArray,
        sub))
  }

  /** Nearest-centroid id by COSINE (IVF coarse assignment) — one
    * [[NearestCentroidCos]] node over a driver-held centroid table
    * `(cid, vector, precomputed norm)`, ascending cid. Replaces the
    * crossJoin + max_by row explosion with a per-row loop.
    */
  def nearestCidCos(v: Column,
      cents: Seq[(Long, Seq[Double], Double)]): Column = {
    require(cents.nonEmpty, "empty centroid table")
    val sub = cents.head._2.size
    org.apache.spark.sql.GraftSqlBridge.column(
      NearestCentroidCos(
        org.apache.spark.sql.GraftSqlBridge.expression(v),
        cents.map(_._1).toArray,
        cents.flatMap(_._2).toArray,
        cents.map(_._3).toArray,
        sub))
  }

  /** ADC distance over PQ codes for one query's flattened m×stride
    * table (subspace s, code c at `s*stride + c`) — one [[PqAdc]] node
    * per query instead of m map literals of k entries.
    */
  def pqAdc(codes: Column, table: Array[Double], stride: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      PqAdc(org.apache.spark.sql.GraftSqlBridge.expression(codes),
        table, stride))
}
