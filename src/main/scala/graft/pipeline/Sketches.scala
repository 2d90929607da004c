package graft.pipeline

import graft.CacheScope
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based counting for corpus statistics at scales where exact
  * per-key state is infeasible. The hash family is md5-derived
  * (`md5Hash60(key || "#" || row)`), so sketch contents are
  * deterministic and replayable by any engine — the DuckDB oracle
  * rebuilds the identical sketch.
  *
  * At 100 TB the value is the memory contract: a count-min sketch is a
  * fixed `depth × width` integer grid, built with one map-side-combined
  * aggregation and mergeable across partitions/streams by cell-wise
  * addition — no vocabulary-sized state anywhere until the (bounded)
  * candidate read-out.
  */
object Sketches {

  /** Count-min sketch of token frequencies (Cormode & Muthukrishnan
    * 2005): `depth` hash rows × `width` buckets, cell = Σ counts of
    * tokens hashing there. Returns `(row, bucket, c)` — the sketch
    * itself, `depth·width` rows regardless of corpus size.
    *
    * Built from the (token, count) relation rather than raw tokens so
    * the explode-by-depth multiplies vocabulary rows, not corpus rows.
    */
  def cmsSketch(tokenCounts: DataFrame, depth: Int = 4, width: Int = 1024,
      tokenCol: String = "token", cntCol: String = "cnt"): DataFrame = {
    val rows = explode(array((0 until depth).map(i =>
      struct(lit(i).as("row"),
        cmsBucket(col(tokenCol), i, width).as("bucket"))): _*)).as("rb")
    tokenCounts
      .select(col(cntCol), rows)
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum(col(cntCol)).as("c"))
  }

  /** Bucket of `token` in hash row `i`: `md5hash60(token#i) mod width`. */
  def cmsBucket(token: Column, i: Int, width: Int): Column =
    pmod(GraftFunctions.md5Hash60(concat(token, lit("#"), lit(i.toString))),
      lit(width.toLong))

  /** HyperLogLog distinct-count estimate per group (Flajolet et al.
    * 2007), built on the oracle-shared 60-bit md5 hash so the register
    * state — and therefore the estimate — is deterministic and
    * engine-replayable (unlike `approx_count_distinct`, whose sketch is
    * engine-private).
    *
    * Layout: low `p` bits of the hash pick one of `m = 2^p` registers,
    * the remaining `60−p` bits yield `rho` = position of the first set
    * bit (computed exactly via integer bit-length — `length(bin(x))` in
    * both engines — never float log2). Register state is one
    * map-side-combined `max` aggregation: fixed `m` longs per group, the
    * canonical mergeable cardinality sketch for 100 TB streams.
    *
    * The harmonic mean is computed in INTEGER arithmetic: Σ 2^(S−M_j)
    * with `S = 61−p` (max rho), each term ≤ 2^(S−1) and absent registers
    * contributing 2^S, so the sum ≤ m·2^S = 2^(61) fits int64 exactly —
    * the only float ops are the fixed-shape final formula, which both
    * engines evaluate identically. Small-range (linear counting) branch
    * included; large-range correction unnecessary in a 2^60 hash space.
    *
    * Returns `(groupCol, est)` with the raw (unrounded) estimate.
    */
  def hllDistinct(df: DataFrame, keyCol: String, groupCol: String,
      p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, keyCol, groupCol, p), Seq("grp"), p)
      .withColumnRenamed("grp", groupCol)

  /** The register state of [[hllDistinct]]: `(grp, bucket, M)` — one
    * map-side-combined `max` aggregation, fixed `2^p` longs per group.
    * This relation IS the sketch: persist it per day/shard and any later
    * union (across time, across sources) is a bucket-wise `max` — the
    * merge property that makes HLL the 100 TB cardinality answer.
    */
  def hllRegisters(df: DataFrame, keyCol: String, groupCol: String,
      p: Int = 8): DataFrame =
    hllRegistersBy(df, keyCol, Seq(groupCol), p)
      .withColumnRenamed(groupCol, "grp")

  /** [[hllRegisters]] keyed by several group columns — also the
    * STREAMING form: `max` is an order-free streaming-supported
    * aggregate, so piping a `readStream` frame through this builds the
    * live register state (groups × 2^p longs, bounded) that complete/
    * update sinks expose — a continuous distinct-count sketch whose
    * final state is byte-identical to the batch one no matter how the
    * stream was micro-batched.
    */
  def hllRegistersBy(df: DataFrame, keyCol: String, groupCols: Seq[String],
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4,16]")
    val m = 1 << p
    val S = 61 - p // rho range: [1, S]; absent register = 0
    val h = GraftFunctions.md5Hash60(col(keyCol))
    val hp = shiftright(h, p)
    val rho = when(hp === 0, lit(S))
      .otherwise(lit(S) - length(bin(hp))) // S − bitlen, exact
    df.select(groupCols.map(col) :+ h.bitwiseAND(m - 1).as("bucket") :+
        rho.as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("M"))
  }

  /** Read an HLL estimate out of a register relation keyed by
    * `groupCols` (integer harmonic sum, fixed-shape final formula,
    * linear-counting small-range branch — see [[hllDistinct]]).
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String],
      p: Int): DataFrame = {
    val m = 1 << p
    val S = 61 - p
    val term = round(pow(lit(2.0), (lit(S) - col("M")).cast("double"))).cast("long")
    val alpha = 0.7213 / (1 + 1.079 / m)
    val pow2S = math.pow(2.0, S) // 2^53 for p=8 — exact in double
    regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("nb"), sum(term).as("zp"))
      .withColumn("zint", col("zp") + (lit(m.toLong) - col("nb")) * lit(1L << S))
      .withColumn("v", lit(m.toLong) - col("nb")) // empty registers
      .withColumn("eraw",
        (lit(alpha) * (m.toDouble * m.toDouble))
          / (col("zint").cast("double") / pow2S))
      .withColumn("est",
        when(col("eraw") <= 2.5 * m && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
          .otherwise(col("eraw")))
      .select(groupCols.map(col) :+ col("est"): _*)
  }

  /** HLL SET ALGEBRA across groups — the report "how much do these
    * sources' vocabularies overlap" computed entirely from merged
    * sketches, never from the raw keys: for every unordered group pair,
    * union registers = bucket-wise `max` of the two register sets →
    * union estimate; intersection by inclusion–exclusion
    * (`e₁ + e₂ − e_union`, floored at 0); Jaccard = inter/union.
    *
    * 100 TB shape: the raw keys are touched ONCE ([[hllRegisters]] —
    * map-side-combined); everything after operates on `groups × 2^p`
    * register rows, so the pairwise stage costs |groups|²·2^p sketch
    * rows — independent of corpus size. Exactly how a catalog answers
    * "overlap between any two of 10,000 daily shards" without re-reading
    * a byte of data.
    */
  def hllOverlap(df: DataFrame, keyCol: String, groupCol: String,
      p: Int = 8): DataFrame = CacheScope.eager { cache =>
    // registers feed three plan branches (two pair sides + singles) —
    // kept so the one corpus-wide pass runs once
    val spark = df.sparkSession
    import spark.implicits._
    val regs = cache.keep(hllRegisters(df, keyCol, groupCol, p))
    regs.count()
    // group names are the report's axis — bounded by construction (the
    // caller picks which sources/shards to compare; same contract as the
    // one-row-per-source rates in Sampling). Building the pair frame on
    // the driver keeps every cluster-side join EQUI — a `g1 < g2`
    // dataframe join would be a nested-loop — and the pair frame then
    // broadcasts into the register joins.
    val gs = regs.select(col("grp").cast("string")).distinct()
      .as[String].collect().sorted
    val pairs = (for {
      i <- gs.indices; j <- (i + 1) until gs.length
    } yield (gs(i), gs(j))).toSeq.toDF("grp", "grp2")
    val regsS = regs.withColumn("grp", col("grp").cast("string"))
    // two equi-joins + union (never an OR-join → BNLJ): each pair row
    // picks up both members' registers, bucket-wise max merges them
    val side1 = pairs.join(regsS, Seq("grp"))
      .select(col("grp"), col("grp2"), col("bucket"), col("M"))
    val side2 = pairs
      .join(regsS.select(col("grp").as("grp2"), col("bucket"), col("M")), Seq("grp2"))
      .select(col("grp"), col("grp2"), col("bucket"), col("M"))
    val unionRegs = side1.union(side2)
      .groupBy("grp", "grp2", "bucket").agg(max(col("M")).as("M"))
    val eu = hllEstimate(unionRegs, Seq("grp", "grp2"), p)
      .withColumnRenamed("est", "est_union")
    val singles = hllEstimate(regsS, Seq("grp"), p)
    eu
      .join(singles.select(col("grp"), col("est").as("e1")), "grp")
      .join(singles.select(col("grp").as("grp2"), col("est").as("e2")), "grp2")
      .withColumn("est_inter",
        greatest(lit(0.0), col("e1") + col("e2") - col("est_union")))
      .withColumn("jacc", col("est_inter") / col("est_union"))
      .select(col("grp").as("g1"), col("grp2").as("g2"),
        col("est_union"), col("est_inter"), col("jacc"))
  }

  /** Fixed-grid (equi-width histogram) quantile sketch per group: values
    * floor-divide into `cell`-wide buckets (true floor division — works
    * for negative values too, matching engines whose `//` floors), the
    * sketch is the (group, bucket, count) relation — one map-side-combined aggregation,
    * mergeable across partitions/days/streams by cell-wise addition, and
    * O(range/cell) rows per group no matter how many values feed it.
    * Quantile read-out walks the cumulative counts: the answer for
    * percentile `p` is the first bucket whose cumulative count reaches
    * `ceil(n·p/100)`, reported as the bucket's inclusive upper edge —
    * a one-sided error of at most `cell − 1` in value space.
    *
    * This is the 100 TB alternative to exact percentiles (which buffer
    * every group value — the `Planner.Options.percentileSketchBucketMs`
    * concern): the sketch never holds more than the grid. Everything is
    * integer arithmetic — thresholds via ceil-division `(n·p + 99) div
    * 100` — so any engine replays the exact same buckets and edges.
    *
    * Returns `(groupCol, p, bucket, est, n)`: percentile, winning
    * bucket, its upper-edge estimate `((bucket+1)·cell − 1)`, and the
    * group's total count.
    */
  def gridQuantiles(df: DataFrame, valueCol: String, groupCol: String,
      cell: Long = 16, percents: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(cell > 0, "cell > 0")
    val counts = df
      .select(col(groupCol).as("grp"),
        // Spark's `div` truncates toward zero; floor-divide instead so
        // negative values land in the right bucket and `(bucket+1)·cell−1`
        // is the inclusive upper edge for every sign (pmod is ≥ 0, so
        // (v − pmod(v, cell)) is an exact multiple of cell at or below v).
        expr(s"(CAST($valueCol AS BIGINT) - pmod(CAST($valueCol AS BIGINT), $cell)) div $cell")
          .as("bucket"))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .select(col("grp"), col("bucket"), col("cum"), col("n"),
        explode(array(percents.map(lit(_)): _*)).as("p"))
      .filter(col("cum") >= expr("(n * p + 99) div 100"))
      .groupBy(col("grp").as(groupCol), col("p"))
      .agg(min(col("bucket")).as("bucket"), max(col("n")).as("n"))
      .withColumn("est", (col("bucket") + 1) * cell - 1)
      .select(col(groupCol), col("p"), col("bucket"), col("est"), col("n"))
  }

  /** Heavy hitters with their CMS estimates: the true top-`k` tokens by
    * exact count, each annotated with the sketch's point estimate
    * (min over the depth rows of the addressed cells). The estimate
    * never undershoots the true count (CMS guarantee — spec'd); the gap
    * is the collision error `≤ e/width · Σcounts` w.h.p.
    *
    * The candidate set is bounded (top-k), so the read-out join touches
    * `k·depth` sketch cells — the sketch stays the only corpus-wide
    * state.
    */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 20, depth: Int = 4,
      width: Int = 1024, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val tc = cache.keep(TextAnalysis.withTokens(docs, textCol)
      .select(explode(col("w_")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt")))
    val sketch = cmsSketch(tc, depth, width)
    // true top-k (deterministic ties by token) → bounded candidate frame
    val cand = tc.orderBy(col("cnt").desc, col("token")).limit(k)
    // address row i's cell for every candidate; min across rows
    val addressed = (0 until depth).map { i =>
      cand.withColumn("row", lit(i))
        .withColumn("bucket", cmsBucket(col("token"), i, width))
    }.reduce(_ unionByName _)
    addressed
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("c")).as("est"))
  }
}
