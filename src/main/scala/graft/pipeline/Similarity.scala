package graft.pipeline

import graft.CacheScope
import graft.functions.GraftFunctions.{dotp, quant4, round4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *   - [[bruteKnn]]: exact cosine top-k via join — the baseline, and the
  *     right answer when the query side is small (broadcast) even at large
  *     corpus scale.
  *   - [[lshKnn]]: random-hyperplane LSH — bucket both sides by sign
  *     patterns, search only within buckets. The scale path when both
  *     sides are huge: the join key is the bucket, not the pair.
  *
  * Norms are precomputed per vector and the dot product is a native
  * codegen'd loop ([[graft.functions.DotProduct]]) — the pairwise stage
  * does one tight multiply-add loop per pair, no allocation, inside
  * whole-stage codegen. Addition order matches DuckDB's
  * list_dot_product, so scores are bit-identical to the oracle's
  * `dot/(sqrt(dot)·sqrt(dot))`.
  *
  * Hyperplanes are md5-derived, so buckets are deterministic and
  * reproducible in the oracle.
  */
object Similarity {

  /** Project (id, double vector, norm) — norms computed once per vector. */
  private def prep(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nrmAs: String): DataFrame =
    df.select(
      col(idCol).as(idAs),
      transform(col(vecCol), x => x.cast("double")).as(vecAs))
      .withColumn(nrmAs, sqrt(dotp(col(vecAs), col(vecAs))))

  private def pairCos(v1: String, n1: String, v2: String, n2: String): Column =
    dotp(col(v1), col(v2)) / (col(n1) * col(n2))

  /** Spread an all-pairs join's streamed side across the cluster. A small
    * parquet input arrives as one split, and a nested-loop join's
    * parallelism is exactly the streamed side's partition count — the O(n)
    * shuffle is noise next to the O(n²) pair work it parallelizes.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact cosine top-k neighbors for each query row.
    * Output: (query_id, neighbor_id, cos).
    */
  def bruteKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = prep(queries, idCol, vecCol, "qid", "qv", "qn")
    val c = spread(prep(corpus, idCol, vecCol, "nid", "nv", "nn"))
    val scored = broadcast(q)
      .join(c, col("qid") =!= col("nid"))
      .withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most SIMILAR corpus vectors with a DIFFERENT label — the
    * near-miss negatives that teach a bi-encoder margins random in-batch
    * negatives can't. Same broadcast-queries + streamed-corpus shape as
    * [[bruteKnn]]; the label inequality rides the join condition so
    * same-class rows are dropped before any dot product is computed.
    * Output: (qid, nid, neg_label, cos).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    def pr(df: DataFrame, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}id"), col(labelCol).as(s"${p}lab"),
        transform(col(vecCol), x => x.cast("double")).as(s"${p}v"))
        .withColumn(s"${p}n", sqrt(dotp(col(s"${p}v"), col(s"${p}v"))))
    val q = pr(queries, "q")
    val c = spread(pr(corpus, "n"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    broadcast(q)
      .join(c, col("qid") =!= col("nid") && col("qlab") =!= col("nlab"))
      .withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("nlab").as("neg_label"), col("cos"))
  }

  /** All pairs with cosine ≥ threshold (embedding near-dup detection),
    * computed EXACTLY via a blocked (triangle) self-join.
    *
    * Exactness rules out sign-LSH banding here: for any finite hyperplane
    * family, a qualifying pair has nonzero probability of sharing no
    * bucket, so a banded candidate set silently misses pairs — acceptable
    * for ANN top-k ([[lshKnn]]), wrong for "ALL pairs ≥ threshold". What
    * scales instead is blocking: assign each vector to one of `nBlocks`
    * blocks by id hash, replicate each row to the `nBlocks` block-pair
    * keys it participates in, and shuffle on the (i, j) key — an
    * equi-join whose B(B+1)/2 key groups spread across the cluster. No
    * corpus broadcast, no cartesian product in the plan; shuffle volume
    * is O(n·B) rows against the inherent O(n²) pairwise work it
    * distributes. At 100 TB, size `nBlocks` so one block's vectors fit an
    * executor's memory (tasks hold two blocks).
    */
  def nearDupPairs(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nBlocks: Int = 16): DataFrame = {
    // a row in block b participates in every block pair containing b:
    // emit (i, j) = (min(b,c), max(b,c)) for all c — nBlocks distinct keys
    def expanded(df: DataFrame, idAs: String): DataFrame =
      df.withColumn("blk", pmod(hash(col(idAs)), lit(nBlocks)))
        .withColumn("bp", explode(array((0 until nBlocks).map(c =>
          struct(least(col("blk"), lit(c)).as("i"),
            greatest(col("blk"), lit(c)).as("j"))): _*)))
        .withColumn("i", col("bp.i"))
        .withColumn("j", col("bp.j"))
        .drop("bp")
    val a = expanded(prep(emb, idCol, vecCol, "id1", "v1", "n1"), "id1").as("a")
    val b = expanded(prep(emb, idCol, vecCol, "id2", "v2", "n2"), "id2").as("b")
    // roles pin each unordered pair to exactly one (key, orientation):
    // the a-side row is the one from block i, the b-side from block j;
    // same-block pairs (i == j) dedupe by id order
    a.join(b,
        col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
          col("a.blk") === col("a.i") && col("b.blk") === col("b.j") &&
          (col("a.i") < col("a.j") || col("a.id1") < col("b.id2")))
      .withColumn("cos", pairCos("v1", "n1", "v2", "n2"))
      .filter(col("cos") >= threshold)
      .select(
        least(col("a.id1"), col("b.id2")).as("id1"),
        greatest(col("a.id1"), col("b.id2")).as("id2"),
        col("cos"))
  }

  /** Embedding preprocessing for the ANN/near-dup family: L2 norm, the
    * unit-normalized vector, and symmetric int8 quantization
    * `q_i = floor(127·x_i/max|x| + 0.5)` (the storage-shrink pass run
    * before building an index at corpus scale). Norm and max|x| are
    * projected once per row; everything is per-row array math — no
    * shuffle at any scale.
    */
  def embedPrep(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dotp(col("v"), col("v"))))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("unit", transform(col("v"), x => x / col("norm")))
      .withColumn("q",
        transform(col("v"),
          x => floor(x * 127.0 / col("maxabs") + 0.5).cast("long")))

  /** Scalar-quantized (SQ8) cosine top-k: vectors compare through their
    * [[embedPrep]] int8 codes — cosine is scale-invariant, so the
    * per-vector `127/max|x|` factors cancel and
    * `cos₈ = Σq·c / (√Σq² · √Σc²)` needs only the codes. A stored corpus
    * vector is dim bytes instead of dim floats (4× smaller scans than
    * [[bruteKnn]], the standard first rung before PQ's 16×), the dot
    * products are exact integer sums (≤ 127²·dim per pair — inside
    * double's 2^53 integer range through dim ~500k), and the single
    * final division is a fixed-shape IEEE scalar, so the oracle replays
    * the ranking bit-for-bit. Same plan shape as bruteKnn: queries
    * broadcast, corpus spread, per-query top-k window.
    */
  def sq8Knn(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def codes(df: DataFrame, idAs: String, vecAs: String, nrmAs: String) =
      embedPrep(df, idCol, vecCol)
        .select(col(idCol).as(idAs),
          transform(col("q"), x => x.cast("double")).as(vecAs))
        .withColumn(nrmAs, sqrt(dotp(col(vecAs), col(vecAs))))
    val q = codes(queries, "qid", "qv", "qn")
    val c = spread(codes(corpus, "nid", "nv", "nn"))
    val scored = broadcast(q)
      .join(c, col("qid") =!= col("nid"))
      .withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Top principal component by POWER ITERATION over the integer
    * covariance matrix — the data-driven counterpart of
    * [[randomProject]]: one direction that captures the corpus' largest
    * variance, for 1-D binning/curricula ordering of embeddings or as
    * the first step of a PCA whitening chain.
    *
    * 100 TB shape: the ONLY corpus-wide work is the (dim² + dim)
    * moment-sum aggregation — map-side combined, one shuffle keyed by
    * (j, k). The covariance matrix itself is dim² numbers (the k·dim
    * centroid-collect contract), so the iteration runs on the driver in
    * exact BigInt arithmetic.
    *
    * Determinism (engine-replayable end-to-end): components quantize to
    * the 1e-4 integer grid; C_jk = n·Σv_jv_k − (Σv_j)(Σv_k) in exact
    * big-integer math; each iteration rescales via
    * `sign(y)·((|y|·10⁴) div max|y|)` — magnitude-only division, so
    * floor-vs-truncate never diverges on negatives; final sign flips so
    * the first nonzero component is positive. The DuckDB oracle replays
    * the identical chain in HUGEINT.
    *
    * Returns the direction on the 1e-4 grid (length `dim`, values in
    * [−10⁴, 10⁴]).
    */
  def pca1Direction(emb: DataFrame, dim: Int = 64, iters: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Long] = {
    val vq = emb.select(col(idCol),
      posexplode(transform(col(vecCol),
        x => quant4(x.cast("double"))))
        .as(Seq("j", "v")))
    val n = BigInt(emb.count())
    val sj = vq.groupBy("j").agg(sum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> BigInt(r.getLong(1))).toMap
    val sjk = vq.as("a")
      .join(vq.withColumnRenamed("j", "k").withColumnRenamed("v", "w"), idCol)
      .groupBy(col("j"), col("k"))
      .agg(sum(col("v") * col("w")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getLong(2))).toMap
    val c = Array.tabulate(dim, dim) { (j, k) =>
      n * sjk((j, k)) - sj(j) * sj(k)
    }
    var x = Array.fill(dim)(BigInt(10000))
    (0 until iters).foreach { _ =>
      val y = Array.tabulate(dim)(j =>
        (0 until dim).map(k => c(j)(k) * x(k)).sum)
      val m = y.map(_.abs).max
      x =
        if (m == 0) x
        else y.map(v => v.sign * ((v.abs * 10000) / m))
    }
    val firstNz = x.indexWhere(_ != 0)
    val canon = if (firstNz >= 0 && x(firstNz) < 0) x.map(-_) else x
    canon.map(_.toLong)
  }

  /** Project every vector onto [[pca1Direction]]'s axis: exact integer
    * dot of the 1e-4-grid components against the 1e-4-grid direction,
    * one fixed-shape de-scale. Per-row Column math, no shuffle.
    * Output: (id, pc1).
    */
  def pca1Project(emb: DataFrame, direction: Array[Long],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = array(direction.map(lit): _*)
    val dot = aggregate(sequence(lit(0), lit(direction.length - 1)), lit(0L),
      (acc, i) => acc +
        quant4(element_at(col(vecCol), i + 1).cast("double")) * element_at(d, i + 1))
    emb.select(col(idCol), (dot.cast("double") / 1e8).as("pc1"))
  }

  /** Per-dimension standardization (z-scoring) of an embedding column —
    * the whitening-lite preprocessing run before scalar quantization or
    * distance work when dimensions carry wildly different scales (SQ8's
    * per-vector max-scaling can't fix a globally skewed dimension).
    *
    * Determinism: components on the 1e-4 integer grid, per-dimension
    * moments as exact int64 sums (map-side combined — the only
    * shuffle), μ/σ/z one fixed-shape IEEE chain replayed identically by
    * the oracle. The 64-row moment frame broadcasts back. Zero-variance
    * dimensions drop (no z to report). Output long-form: (id, j, z).
    */
  def standardize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val vq = emb.select(col(idCol),
      posexplode(transform(col(vecCol),
        x => quant4(x.cast("double"))))
        .as(Seq("j", "v")))
    val mom = vq.groupBy("j").agg(
      count(lit(1)).as("n"), sum(col("v")).as("s1"),
      sum(col("v") * col("v")).as("s2"))
    vq.join(broadcast(mom), "j")
      .withColumn("mu", col("s1").cast("double") / col("n"))
      .withColumn("vr",
        col("s2").cast("double") / col("n") - col("mu") * col("mu"))
      .filter(col("vr") > 0)
      .withColumn("z", (col("v").cast("double") - col("mu")) / sqrt(col("vr")))
      .select(col(idCol), col("j").cast("long").as("j"), col("z"))
  }

  /** Johnson–Lindenstrauss random projection with database-friendly ±1
    * signs (Achlioptas 2003): `y_j = (1/√outDim)·Σ_i x_i·s_{ij}`, the
    * embedding-compression pass run before indexing when dim itself is
    * the storage/compute problem. The sign matrix derives from the
    * shared md5-60 hash (`s_{ij} = +1 iff md5("i#j") is even`), so both
    * engines materialize the identical matrix from nothing but (i, j).
    *
    * Determinism: inputs quantize to the integer 1e-4 grid first, each
    * output coordinate is an INTEGER sum of quantized-component·sign
    * terms (order-free), and the de-scale `/10⁴/√outDim` is one
    * fixed-shape division chain. Per-row Column math (one `transform` +
    * `aggregate` over the literal sign array — codegen'd, no UDF, the
    * sign array appears ONCE in the lambda body); no shuffle at any
    * scale. Output long-form: (id, j, y).
    */
  def randomProject(emb: DataFrame, outDim: Int = 16, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Array[Long] = Array.tabulate(dim * outDim) { idx =>
      val d = md.digest(s"${idx / outDim}#${idx % outDim}".getBytes("UTF-8"))
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      if (((h >>> 4) & 1L) == 0L) 1L else -1L
    }
    val s = array(signs.map(lit): _*)
    // guard the declared dim against the data: element_at past the end
    // yields nulls (non-ANSI) and the aggregate would silently emit
    // null y rows — error per offending row instead
    val vq0 = transform(col(vecCol),
      x => quant4(x.cast("double")))
    val vq = when(size(col(vecCol)) >= dim, vq0).otherwise(raise_error(
      concat(lit(s"randomProject: embedding has fewer than dim=$dim components: "),
        size(col(vecCol)).cast("string"))))
    val proj = transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0L),
        (acc, i) => acc + element_at(col("vq_"), i + 1) *
          element_at(s, i * outDim + j + 1)))
    emb.select(col(idCol), vq.as("vq_"))
      .select(col(idCol), posexplode(proj).as(Seq("j", "yq")))
      .select(col(idCol), col("j").cast("long").as("j"),
        (col("yq").cast("double") / 10000.0 / math.sqrt(outDim.toDouble))
          .as("y"))
  }

  /** Lloyd k-means over the embedding column — corpus clustering for
    * curation pipelines (SemDeDup-style semantic grouping, cluster-
    * balanced sampling). Deterministic and oracle-checkable:
    *
    *   - init: the vectors with `id < k` (ids are stable, so is init);
    *   - assignment: squared euclidean argmin, ties to the smaller cid;
    *   - update: per-cluster mean, rounded to 1e-4 so cross-engine
    *     floating-summation order can't leak into the next iteration;
    *     an emptied cluster keeps its previous centroid.
    *
    * Spark shape (MLlib's own Lloyd layout): centroids live on the
    * driver as k·dim literals — each iteration is ONE distributed pass
    * (argmin against literal centroids, then a map-side-combined
    * per-cluster sum whose k·dim result collects back). No join, no
    * window; the only shuffle per iteration carries k rows of partial
    * sums per partition. Returns (id, cid) under the final centroids.
    */
  /** Nearest-centroid id: min squared-euclidean distance, ties to the
    * smaller cid. ONE native [[graft.functions.NearestCentroid]] node
    * carrying the codebook as data — bit-identical arithmetic to the
    * original `least()`-over-k-literal-structs form, but it compiles and
    * codegens at production parameters (k=256) where k struct literals
    * per row blow the 64KB method limit into interpreted mode. Shared by
    * [[kmeans]], the PQ trainer, and the PQ encoder.
    */
  private def bestCidExpr(v: Column,
      cents: Seq[(Long, Seq[Double])]): Column =
    graft.functions.GraftFunctions.nearestCid(v, cents)

  private def assignTo(pts: DataFrame,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    pts.withColumn("cid", bestCidExpr(col("v"), cents))
      .select(col("id"), col("v"), col("cid"))

  /** Lloyd centroid training on a prepared (id, v) frame — first-k-ids
    * init, per-iteration 1e-4 rounding so the oracle iterates from
    * bit-identical literals. Shared by [[kmeans]] and [[pqCodebooks]];
    * centroid sums collect k·dim doubles per iteration (bounded).
    */
  private def lloydCentroids(pts: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Double])] = {
    val spark = pts.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Double])] = pts.filter(col("id") < k)
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    require(cents.nonEmpty, s"need at least one vector with id < $k")
    val dim = cents.head._2.size
    for (_ <- 1 to iters) {
      val sums = assignTo(pts, cents)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col("v"), i + 1))): _*).as("sv"))
        .as[(Long, Long, Seq[Double])].collect()
      // centroids round to the oracle's 1e-4 grid every iteration, so
      // both engines iterate from bit-identical literals
      val updated = sums.map { case (cid, n, sv) =>
        cid -> sv.map(s => quant4(s / n) / 10000.0)
      }.toMap
      cents = cents.map { case (cid, cv) => cid -> updated.getOrElse(cid, cv) }
    }
    cents
  }

  def kmeans(emb: DataFrame, k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = CacheScope.eager { cache =>
    val pts = cache.keep(emb.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    val cents = lloydCentroids(pts, k, iters)
    assignTo(pts, cents).select(col("id"), col("cid"))
  }

  /** k-means clustering quality report: per-cluster membership count and
    * inertia (Σ squared distance to the assigned centroid) — the metric
    * every curation pipeline reads before trusting cluster-based dedup
    * (SemDeDup) or routing (IVF). Distances quantize per POINT to the
    * 1e-4 integer grid before summing (order-free across engines — the
    * corpus-stats recipe); centroids are the shared deterministic Lloyd
    * state, so the whole report replays in the oracle. One distributed
    * assignment pass + one map-side-combined aggregation.
    * Output: (cid, n, inertia) with inertia on the 1e-4 grid.
    */
  def clusterStats(emb: DataFrame, k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = CacheScope.eager { cache =>
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = cache.keep(emb.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    val cents = lloydCentroids(pts, k, iters)
    val centsDf = cents.toDF("cid", "cv")
    assignTo(pts, cents)
      .join(broadcast(centsDf), Seq("cid"))
      .withColumn("d2", aggregate(
        zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (a, x) => a + x))
      .withColumn("d2q", quant4(col("d2")))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), (sum(col("d2q")) / 10000.0).as("inertia"))
  }

  /** Simplified (centroid-based) silhouette per cluster: for each point,
    * `a` = distance to its own centroid, `b` = distance to the nearest
    * OTHER centroid, `s = (b − a)/max(a, b)` — the separation-vs-
    * cohesion read that tells you whether cluster-based dedup/routing
    * (SemDeDup, IVF) can trust these clusters at all. The centroid
    * variant is the 100 TB form: the classic pairwise silhouette is
    * O(n²) in cluster sizes, this is one assignment pass against k
    * broadcast centroids. Per-point s quantizes to a 1e-6 grid before
    * the order-free per-cluster mean; degenerate a=b=0 points score 0.
    * Output: (cid, n, sil).
    */
  def silhouette(emb: DataFrame, k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = CacheScope.eager { cache =>
    val pts = cache.keep(emb.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    val cents = lloydCentroids(pts, k, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    val centsDf = cents.toDF("ccid", "cv")
    val d2 = aggregate(
      zip_with(col("v"), col("cv"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, x) => a + x)
    val per = assignTo(pts, cents)
      .crossJoin(broadcast(centsDf))
      .withColumn("d2", d2)
      .groupBy(col("id"), col("cid"))
      .agg(max(when(col("cid") === col("ccid"), col("d2"))).as("a2"),
        min(when(col("cid") =!= col("ccid"), col("d2"))).as("b2"))
    val sa = sqrt(col("a2"))
    val sb = sqrt(col("b2"))
    val s = when(greatest(sa, sb) === 0.0, lit(0.0))
      .otherwise((sb - sa) / greatest(sa, sb))
    per
      .withColumn("sq", floor(s * 1e6 + 0.5).cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (sum(col("sq")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e6))).as("sil"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * from the query's top-`kCand` cosine candidates, greedily pick `k`
    * results maximizing `relevance − max-similarity-to-already-picked`
    * (the λ=0.5 MMR objective up to a constant factor) — the standard
    * diversified-retrieval step after ANN. Distributed work is the
    * candidate generation and the kCand² pairwise similarity frame; the
    * greedy loop runs on the BOUNDED candidate set at the driver
    * (kCand + kCand² rows — the union-find/centroid-collect contract).
    * Scores quantize to the 1e-4 integer grid first, ties break to the
    * smaller id, so the selection sequence is engine-replayable.
    * Output: (rank, nid, score) — score = the quantized objective at
    * selection time (pure relevance for rank 1).
    */
  def mmrSelect(corpus: DataFrame, queryId: Long, kCand: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cand = bruteKnn(corpus, corpus.filter(col(idCol) === queryId), kCand,
        idCol, vecCol)
      .select(col("nid"),
        quant4(col("cos")).as("relq"))
    val rel = cand.as[(Long, Long)].collect().toMap
    val ids = rel.keySet
    val cv = prep(corpus.filter(col(idCol).isin(ids.toSeq: _*)), idCol,
      vecCol, "nid", "nv", "nn")
    val simPairs = cv.as("a")
      .join(cv.select(col("nid").as("mid"), col("nv").as("mv"),
        col("nn").as("mn")).as("b"), col("nid") < col("mid"))
      .withColumn("simq", quant4(pairCos("nv", "nn", "mv", "mn")))
      .select(col("nid"), col("mid"), col("simq"))
      .as[(Long, Long, Long)].collect()
    val sim = simPairs.flatMap { case (a, b, s) =>
      Seq((a, b) -> s, (b, a) -> s)
    }.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ ids
    for (rank <- 1 to math.min(k, ids.size)) {
      val best = remaining.map { c =>
        val pen = if (picked.isEmpty) 0L
          else picked.map(p => sim.getOrElse((c, p._2), 0L)).max
        (rel(c) - pen, c)
      }.maxBy { case (score, c) => (score, -c) }
      picked += ((rank, best._2, best._1))
      remaining -= best._2
    }
    picked.toSeq.toDF("rank", "nid", "score")
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split the `dim`-d space
    * into `m` subspaces of dim/m and Lloyd-train an independent
    * k-centroid codebook per subspace — a vector then stores as m small
    * codes (m bytes at k ≤ 256) instead of dim floats, the memory step
    * that makes billion-vector ANN fit a cluster. Same deterministic
    * training as [[kmeans]] (first-k init, 1e-4-rounded updates), so the
    * whole operator replays in the oracle. Returns one (cid, centroid)
    * list per subspace; driver state is m·k·(dim/m) = k·dim doubles —
    * the same bounded footprint the kmeans gate carries.
    */
  def pqCodebooks(emb: DataFrame, m: Int, k: Int, iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[(Long, Seq[Double])]] = CacheScope { cache =>
    val spark = emb.sparkSession
    import spark.implicits._
    val full = cache.keep(emb.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("fv")))
    val dim = full.select(size(col("fv"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // one collect seeds every subspace's first-k init
    val init = full.filter(col("id") < k)
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    require(init.nonEmpty, s"need at least one vector with $idCol < k")
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { s =>
      init.map { case (id, fv) => id -> fv.slice(s * sub, (s + 1) * sub) }
    }
    // per iteration ONE job for all subspaces: explode each row to its m
    // (subspace, assigned cid, subvector) slices, aggregate per-dim sums
    // per (subspace, cid) — same assignments and sums as training the
    // subspaces separately, m× fewer driver round-trips
    for (_ <- 1 to iters) {
      val sums = full.select(explode(array((0 until m).map { s =>
          val sv = slice(col("fv"), s * sub + 1, sub)
          struct(lit(s).as("s"), bestCidExpr(sv, books(s)).as("cid"),
            sv.as("sv"))
        }: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.cid").as("cid"), col("x.sv").as("sv"))
        .groupBy(col("s"), col("cid"))
        .agg(count(lit(1)).as("n"),
          array((0 until sub).map(i =>
            sum(element_at(col("sv"), i + 1))): _*).as("svs"))
        .as[(Int, Long, Long, Seq[Double])].collect()
      val updated = sums.map { case (s, cid, n, svs) =>
        (s, cid) -> svs.map(x => quant4(x / n) / 10000.0)
      }.toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.map { case (cid, cv) => cid -> updated.getOrElse((s, cid), cv) }
      }
    }
    books
  }

  /** PQ encoding: per subspace, the id of the nearest codebook centroid —
    * the compressed representation an index stores. Pure per-row argmin
    * over broadcast-literal centroids (the [[kmeans]] assignment
    * expression per subspace), no shuffle at any scale. Output:
    * (id, codes array<long>) with codes(s) = chosen cid in subspace s.
    */
  def pqEncode(emb: DataFrame, books: Seq[Seq[(Long, Seq[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.size
    val full = emb.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("fv"))
    val sub = books.head.head._2.size
    full.select(col("id"),
      array((0 until m).map(s =>
        bestCidExpr(slice(col("fv"), s * sub + 1, sub), books(s))): _*)
        .as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k search over PQ codes: the query
    * stays exact, the corpus is its codes, and distance is the sum over
    * subspaces of the PRECOMPUTED ||q_s − centroid(s, code_s)||² table —
    * per corpus row the scan does m table lookups and adds, never
    * touching the original vectors (the PQ read path at billion-vector
    * scale; the codes frame here stands in for the stored index).
    * Queries collect to the driver like centroids do (bounded — the
    * query set of an ANN call is small by contract, as in
    * [[bruteKnn]]'s broadcast side); each query's m·k distance table
    * ships as DATA inside one native [[graft.functions.PqAdc]] node —
    * not as m map literals, which at k=256/m=16 would put 4,096 entries
    * per query into the plan tree. The subspace sum is a fixed
    * left-to-right loop so the oracle can replay the exact association
    * order. Output: (qid, nid, adc) — squared-L2, ascending.
    */
  def pqAdcKnn(codes: DataFrame, queries: DataFrame,
      books: Seq[Seq[(Long, Seq[Double])]], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxExprQueries: Int = 64): DataFrame = {
    // Per-query expression nodes are unbeatable at interactive Q (one
    // codes scan, zero joins) but the plan grows linearly in Q; past the
    // threshold, dispatch to the joined-frames variant whose plan is
    // O(1) in Q. The probe is a bounded limit-count, not a full count.
    if (maxExprQueries > 0 &&
      queries.limit(maxExprQueries + 1).count() > maxExprQueries)
      return pqAdcKnnFrames(codes, queries, books, k, idCol, vecCol)
    val spark = codes.sparkSession
    import spark.implicits._
    val m = books.size
    val qRows = queries.select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val sub = books.head.head._2.size

    def d2(q: Seq[Double], cv: Seq[Double]): Double = {
      // ascending-index loops — the same order list_dot_product and the
      // DotProduct expression add in, so the oracle reproduces each table
      // entry bit-for-bit
      var qq = 0.0; var qc = 0.0; var cc = 0.0
      var i = 0
      while (i < cv.size) {
        qq += q(i) * q(i); qc += q(i) * cv(i); cc += cv(i) * cv(i); i += 1
      }
      qq - 2.0 * qc + cc
    }

    // ONE scan of the codes: each row explodes to its per-query
    // (qid, adc) pairs — Q·m table lookups per row, the codes frame
    // (and any encode expression feeding it) evaluated exactly once.
    // Unassigned cids (ids missing below k) keep NaN entries: encoding
    // can never emit them, so a NaN surfacing means a codebook bug.
    val stride = (books.flatMap(_.map(_._1)).max + 1).toInt
    val scored = codes.select(col("id").as("nid"),
        explode(array(qRows.map { case (qid, qv) =>
          val table = Array.fill(m * stride)(Double.NaN)
          for (s <- 0 until m; (cid, cv) <- books(s))
            table(s * stride + cid.toInt) =
              d2(qv.slice(s * sub, (s + 1) * sub), cv)
          struct(lit(qid).as("qid"),
            graft.functions.GraftFunctions
              .pqAdc(col("codes"), table, stride).as("adc"))
        }: _*)).as("x"))
      .select(col("x.qid").as("qid"), col("nid"), col("x.adc").as("adc"))
      .filter(col("nid") =!= col("qid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("adc"))
  }

  /** ADC for LARGE query sets: the same asymmetric distance as
    * [[pqAdcKnn]], but the per-(query, subspace, code) distance tables
    * live in a broadcast DataFrame joined on (subspace, code) instead of
    * Q expression nodes — the plan is O(1) in Q, and nothing about the
    * query set ever reaches the driver (no collect; the tables are
    * computed distributively from the queries frame against the tiny
    * broadcast codebooks). Thousands of simultaneous ANN queries are a
    * batch-scoring job, and this is its shape: corpus codes explode to
    * (nid, s, code) — in-partition, no shuffle — probe the broadcast
    * tables, and the partial hash-aggregate folds the m per-subspace
    * terms back to one (qid, nid, adc) row inside the scan stage, so the
    * only shuffled rows are the Q·n aggregated distances the top-k
    * window needs anyway.
    *
    * Bit-compatible with [[pqAdcKnn]]: the q·q, q·c and c·c terms each
    * fold ascending over the subspace dims (`aggregate`/`zip_with` —
    * the same per-accumulator order as the expression path's single
    * loop), a corpus row's m partial terms arrive at the aggregate in
    * ascending-s order (posexplode emits them so, and the broadcast
    * probe preserves stream order), and an unmatched (s, code) — a cid
    * no codebook carries — surfaces as NaN exactly like the expression
    * path's unfilled table slots.
    */
  def pqAdcKnnFrames(codes: DataFrame, queries: DataFrame,
      books: Seq[Seq[(Long, Seq[Double])]], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = books.size
    val sub = books.head.head._2.size
    // codebook rows with the centroid self-term precomputed in the same
    // ascending order the expression path's d2 loop uses
    val bookRows = for {
      (book, s) <- books.zipWithIndex
      (cid, cv) <- book
    } yield {
      var cc = 0.0
      var i = 0
      while (i < cv.size) { cc += cv(i) * cv(i); i += 1 }
      (s, cid, cv, cc)
    }
    val booksDf = bookRows.toDF("s", "cid", "cv", "cc")
    val qSub = queries.select(col(idCol).cast("long").as("qid"),
        transform(col(vecCol), x => x.cast("double")).as("fv"))
      .select(col("qid"), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("fv"), s * sub + 1, sub).as("qs"))): _*)).as("x"))
      .select(col("qid"), col("x.s").as("s"), col("x.qs").as("qs"))
    val qq = aggregate(col("qs"), lit(0.0), (acc, x) => acc + x * x)
    val qc = aggregate(zip_with(col("qs"), col("cv"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val table = qSub.join(broadcast(booksDf), Seq("s"))
      .select(col("qid"), col("s").as("ts"), col("cid"),
        (qq - lit(2.0) * qc + col("cc")).as("d"))
    val corpus = codes.select(col("id").as("nid"),
      posexplode(col("codes")).as(Seq("s", "code")))
    val scored = corpus.join(broadcast(table),
        col("s") === col("ts") && col("code") === col("cid"), "left_outer")
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("d")).as("sd"), count(col("d")).as("nsub"))
      // a left-outer miss (or a partial match) means some subspace had no
      // table entry for its code — the expression path reads NaN there
      .select(col("qid"), col("nid"),
        when(col("nsub") === m, col("sd"))
          .otherwise(lit(Double.NaN)).as("adc"))
      .filter(col("qid").isNotNull && col("nid") =!= col("qid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("adc"))
  }

  /** IVF-PQ search (IVFADC — Jégou et al. 2011 §IV, the FAISS
    * billion-scale default): coarse-quantize the corpus into `nlist`
    * inverted lists, PQ-encode each vector's RESIDUAL from its list
    * centroid, and answer a query by probing its `nprobe` nearest lists
    * with an ADC scan over their codes — the residual trick recovers
    * most of the precision a plain-PQ scan loses, and the probe bounds
    * the scan to nprobe/nlist of the corpus.
    *
    * Everything is the frames shape of [[pqAdcKnnFrames]]: no driver
    * collect anywhere (queries rank the broadcast centroids, residualize,
    * and build their distance tables distributively), the plan is O(1)
    * in Q, and the corpus-side work is one scan of (list, codes) rows
    * joined against the broadcast tables — at 100 TB the codes frame is
    * the persisted index (m bytes per vector) and this is its read path.
    * Deterministic end to end: Lloyd training is the shared 1e-4-rounded
    * machinery, folds ascend, the m per-subspace terms aggregate in
    * ascending-s order, so the oracle replays bit-for-bit.
    * Output: (qid, nid, adc) — residual-ADC squared-L2, ascending.
    */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, m: Int = 4, kPq: Int = 8,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = CacheScope.eager { cache =>
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = cache.keep(corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    // coarse quantizer + per-vector residuals (exact elementwise
    // subtraction — deterministic)
    val coarse = lloydCentroids(pts, nlist, iters)
    val centsDf = coarse.toDF("lcid", "cv")
    val resid = cache.keep(assignTo(pts, coarse).withColumnRenamed("cid", "lcid")
      .join(broadcast(centsDf), Seq("lcid"))
      .select(col("id"), col("lcid"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv")))
    // residual PQ: same trainer/encoder as plain PQ, fed residuals
    val books = pqCodebooks(resid, m, kPq, iters, idCol = "id", vecCol = "rv")
    val codes = pqEncode(resid, books, idCol = "id", vecCol = "rv")
      .join(resid.select(col("id"), col("lcid")), Seq("id"))
    val sub = books.head.head._2.size
    val bookRows = for {
      (book, s) <- books.zipWithIndex
      (cid, cv) <- book
    } yield {
      var cc = 0.0
      var i = 0
      while (i < cv.size) { cc += cv(i) * cv(i); i += 1 }
      (s, cid, cv, cc)
    }
    val booksDf = bookRows.toDF("s", "cid", "bcv", "cc")
    // query side: rank the broadcast coarse centroids, keep nprobe,
    // residualize against each probed list, explode subspaces, build
    // the per-(query, list, subspace, code) ADC tables
    val qd2 = aggregate(col("qv"), lit(0.0), (a, x) => a + x * x) -
      lit(2.0) * aggregate(zip_with(col("qv"), col("cv"), (x, y) => x * y),
        lit(0.0), (a, x) => a + x) +
      aggregate(col("cv"), lit(0.0), (a, x) => a + x * x)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cd").asc, col("lcid"))
    val probed = queries.select(col(idCol).cast("long").as("qid"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .join(broadcast(centsDf), lit(true))
      .select(col("qid"), col("lcid"), col("qv"), col("cv"), qd2.as("cd"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("lcid"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    val qSub = probed.select(col("qid"), col("lcid"),
      explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("qr"), s * sub + 1, sub).as("qs"))): _*)).as("x"))
      .select(col("qid"), col("lcid"), col("x.s").as("s"), col("x.qs").as("qs"))
    val qq = aggregate(col("qs"), lit(0.0), (a, x) => a + x * x)
    val qc = aggregate(zip_with(col("qs"), col("bcv"), (x, y) => x * y),
      lit(0.0), (a, x) => a + x)
    val table = qSub.join(broadcast(booksDf), Seq("s"))
      .select(col("qid"), col("lcid").as("tl"), col("s").as("ts"),
        col("cid"), (qq - lit(2.0) * qc + col("cc")).as("d"))
    // one scan of the (list, codes) index: rows in probed lists match
    // their m table entries, partial-aggregating back to one
    // (qid, nid, adc) row inside the scan stage
    val corpusRows = codes.select(col("id").as("nid"), col("lcid"),
      posexplode(col("codes")).as(Seq("s", "code")))
    val scored = corpusRows.join(broadcast(table),
        col("lcid") === col("tl") && col("s") === col("ts") &&
          col("code") === col("cid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("d")).as("sd"), count(col("d")).as("nsub"))
      .select(col("qid"), col("nid"),
        when(col("nsub") === m, col("sd"))
          .otherwise(lit(Double.NaN)).as("adc"))
      .filter(col("nid") =!= col("qid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("adc"))
  }

  /** Exact re-rank of an ANN candidate list (the FAISS "refine" stage):
    * the approximate index proposes `(qid, nid)` candidates, and only
    * those pairs fetch their full vectors for an exact cosine, keeping
    * the final top-`k` exact over the candidate set. This is the
    * standard recall-restoring composite at billion scale — the codes
    * index bounds the scan, and the exact pass touches `|cand|` vectors
    * instead of the corpus. Shape: two shuffle joins keyed by id (the
    * candidate frame is tiny relative to the corpus, so AQE broadcasts
    * it against the big vector table), one per-query window.
    * Output: (qid, nid, cos) — exact cosine, the candidate's rank ≤ k.
    */
  def rerankCosine(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = prep(corpus, idCol, vecCol, "nid", "nv", "nn")
    val q = prep(queries, idCol, vecCol, "qid", "qv", "qn")
    val scored = cand.select(col("qid"), col("nid"))
      .join(c, Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023 shape):
    * k-means the corpus ([[kmeans]]), then compute cosine pairs ONLY
    * within each cluster. The pairwise work drops from the corpus-global
    * O(n²) of [[nearDupPairs]] to Σ|cluster|², and the join key is the
    * cluster id, so each cluster's vectors co-locate on one task — at
    * 100 TB the scale lever is k (SemDeDup sizes k so a cluster fits an
    * executor; ~0.1·√n is the paper's working point). Pairs crossing
    * cluster boundaries are out of scope BY DEFINITION — that is the
    * SemDeDup approximation, and what makes it tractable where the exact
    * blocked join is not.
    *
    * Deterministic end to end (deterministic k-means init + 1e-4-rounded
    * centroid updates), so the whole operator is oracle-replayable.
    * Output: (id1, id2, cos) with id1 < id2, cos ≥ threshold.
    */
  def semanticPairs(emb: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = CacheScope.eager { cache =>
    // (id, cid), materialized by kmeans; released once the pairs materialize
    val asg = cache.keep(kmeans(emb, k, iters, idCol, vecCol))
    val p = prep(emb, idCol, vecCol, "pid", "v", "n")
      .join(asg, col("pid") === col("id"))
      .select(col("cid"), col("id"), col("v"), col("n"))
    val a = p.select(col("cid"), col("id").as("id1"),
      col("v").as("v1"), col("n").as("n1"))
    val b = p.select(col("cid"), col("id").as("id2"),
      col("v").as("v2"), col("n").as("n2"))
    a.join(b, Seq("cid"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", pairCos("v1", "n1", "v2", "n2"))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Full SemDeDup labels: (id, cid) where cid is the representative
    * (min reachable id) of each semantic near-dup group; id == cid marks
    * the row to keep. Composes [[semanticPairs]] with the same hash-min
    * connected-components labeling used for lexical dedup
    * ([[graft.pipeline.Dedup.clusters]]) — one shuffle-on-id round per
    * component-diameter step, no driver graph state.
    */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = CacheScope { cache =>
    val pairs = cache.keep(semanticPairs(emb, k, iters, threshold, idCol, vecCol))
    Dedup.clusters(pairs, emb.select(col(idCol).as("id")))
  }

  /** Deterministic hyperplane component r[p][d] ∈ [-1, 1], derived from
    * md5(p || '_' || d) — the JVM-side twin of
    * [[graft.functions.GraftFunctions.md5Hash60]], so buckets are
    * reproducible in any engine. Computed at plan-build time: the planes
    * reach the executors as array literals, not expression trees.
    */
  private def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001L - 1000L).toDouble / 1000.0
  }

  /** Sign-pattern LSH bucket id over `nPlanes` hyperplanes of table
    * `table`: bit p is set iff dot(vec, plane_{table,p}) > 0.
    */
  def lshBucket(vecCol: String, dim: Int, nPlanes: Int,
      table: Int = 0): Column = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val bits = (0 until nPlanes).map { p =>
      val plane = array((0 until dim).map(d =>
        lit(planeComponent(table * nPlanes + p, d))): _*)
      when(dotp(v, plane) > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** One (table, bucket) pair per hash table — candidates are unioned
    * across tables, the standard LSH recall lever.
    */
  private def lshTableBuckets(vecCol: String, dim: Int, nPlanes: Int,
      nTables: Int) =
    explode(array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(vecCol, dim, nPlanes, t).as("b"))): _*))

  /** IVF (inverted-file) ANN: corpus vectors are assigned once to their
    * nearest centroid (the inverted lists); each query probes only the
    * `nProbe` nearest centroids' lists. Centroids are a deterministic
    * corpus subsample (`id % centStep == 0`) standing in for k-means —
    * the assign/probe/search plumbing is identical, and determinism makes
    * the operator oracle-checkable.
    *
    * Scale shape: centroids are small by construction (|corpus|/centStep),
    * so both assignment and probing are broadcast nested-loop joins whose
    * per-vector fan-out collapses map-side — assignment reduces via a
    * partial `max_by` before its shuffle, so the exchanged rows are
    * O(|corpus|), and candidate generation shuffles on `cid`, never on
    * query × corpus.
    */
  /** Lloyd-trained IVF centroids as a (cid, cv, cn) frame [[ivfIndex]]
    * accepts — the honest k-means coarse quantizer (same deterministic
    * recipe as [[kmeans]]: first-k init, 1e-4-rounded updates), for
    * deployments that want trained lists over the subsample stand-in.
    * Driver state is k·dim doubles, the bounded kmeans footprint.
    */
  def trainedCentroids(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = CacheScope { cache =>
      lloydCentroids(cache.keep(corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))), k, iters)
    }
    cents.toDF("cid", "cv")
      .withColumn("cn", sqrt(dotp(col("cv"), col("cv"))))
  }

  /** Build the IVF index: centroids plus the corpus assigned to its
    * nearest centroid — the two tables a production deployment PERSISTS
    * (partitioned by `cid`, so a search's probe join reads only the
    * probed lists) and reuses across queries instead of re-assigning
    * the corpus per search. Centroids default to the deterministic
    * subsample (every `centStep`-th vector — oracle-replayable); pass
    * `centroids` (a (cid, cv, cn) frame, e.g. [[trainedCentroids]]) to
    * use a trained coarse quantizer instead.
    */
  def ivfIndex(corpus: DataFrame, centStep: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val cent = centroids.getOrElse(
      prep(corpus.filter(pmod(col(idCol), lit(centStep)) === 0),
        idCol, vecCol, "cid", "cv", "cn"))
    // nearest centroid per corpus vector; ties break to the smallest
    // cid (the max_by-on-(cos, -cid) contract, mirrored by the oracle's
    // ORDER BY cos DESC, cid). Centroids collect to the driver — the
    // kmeans pattern: a coarse quantizer is k·dim doubles BY SIZING
    // (√n centroids is the IVF working point; size centStep ∝ √n, NOT a
    // constant — a constant makes centroids ∝ n and assignment work
    // quadratic, measured 0.6 s → 22 s at 10× on the fixed-param gate) —
    // and ride into [[graft.functions.NearestCentroidCos]] as expression
    // data: one per-row loop, no crossJoin row explosion (22 s → ~2 s
    // at sf1 on identical parameters).
    val centRows = cent.select(col("cid"), col("cv"), col("cn"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).toIndexedSeq, r.getDouble(2)))
      .sortBy(_._1).toSeq
    val assigned = spread(prep(corpus, idCol, vecCol, "nid", "nv", "nn"))
      .withColumn("cid",
        graft.functions.GraftFunctions.nearestCidCos(col("nv"), centRows))
      .select(col("cid"), col("nid"), col("nv"), col("nn"))
    (cent, assigned)
  }

  /** Search a built (or reloaded) IVF index: probe the `nProbe` nearest
    * inverted lists per query, exact-score only those lists' members.
    */
  def ivfSearch(cent: DataFrame, assigned: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qw = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))
    val probes = prep(queries, idCol, vecCol, "qid", "qv", "qn")
      .crossJoin(broadcast(cent))
      .withColumn("ccos", pairCos("qv", "qn", "cv", "cn"))
      .withColumn("crk", row_number().over(qw))
      .filter(col("crk") <= nProbe)
      .select(col("cid"), col("qid"), col("qv"), col("qn"))
    val scored = probes.join(assigned, "cid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      centStep: Int = 16, nProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cent, assigned) = ivfIndex(corpus, centStep, idCol, vecCol)
    ivfSearch(cent, assigned, queries, k, nProbe, idCol, vecCol)
  }

  /** ANN top-k restricted to candidates sharing a bucket in ≥1 of
    * `nTables` hash tables. Trades recall for a bucket-key join: at 100 TB
    * the shuffle is on (table, bucket), never on (query × corpus); recall
    * scales with nTables, candidate cost with nTables/2^nPlanes.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nPlanes: Int = 8, nTables: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = prep(corpus, idCol, vecCol, "nid", "nv", "nn")
      .withColumn("tb", lshTableBuckets("nv", dim, nPlanes, nTables))
      .select(col("nid"), col("nv"), col("nn"), col("tb.tbl"), col("tb.b"))
    val qb = prep(queries, idCol, vecCol, "qid", "qv", "qn")
      .withColumn("tb", lshTableBuckets("qv", dim, nPlanes, nTables))
      .select(col("qid"), col("qv"), col("qn"), col("tb.tbl"), col("tb.b"))
    val cand = qb
      .join(cb, Seq("tbl", "b"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "qv", "qn", "nid", "nv", "nn")
      .dropDuplicates("qid", "nid") // same pair may collide in many tables
    val scored = cand.withColumn("cos", pairCos("qv", "qn", "nv", "nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Embedding outlier scan: the `k` vectors least cosine-similar to the
    * corpus centroid — the standard screen for mis-embedded / off-domain
    * rows before they poison ANN indexes or cluster-balanced sampling.
    *
    * Determinism contract: components quantize to the 1e-4 integer grid,
    * the centroid is a floor-mean of exact INTEGER per-dim sums
    * (order-free; the pl_corpus_stats recipe, not the float-sum-then-
    * round one), and each row's cosine is integer dot products through
    * one fixed shape `dot/(√q2·√m2)` — bit-identical across engines.
    *
    * 100 TB shape: ONE map-side-combined pass produces the d+1 partial
    * sums (the only shuffle rows are partitions×1 aggregation buffers),
    * the centroid returns to the plan as a broadcast literal, scoring is
    * per-row Column math, and the bottom-k is orderBy+limit =
    * TakeOrdered (per-partition heaps, never a global sort); the rank
    * window runs on the k-row result, not the corpus.
    */
  def centroidOutliers(emb: DataFrame, k: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = emb.select(size(col(vecCol)).as("d")).head.getInt(0)
    val q = transform(col(vecCol),
      x => quant4(x.cast("double")))
    val pts = emb.select(col(idCol).cast("long").as("id"), q.as("q"))
    val row = pts.agg(
      count(lit(1)).as("n"),
      array((0 until dim).map(i =>
        sum(element_at(col("q"), i + 1))): _*).as("s")).head
    val n = row.getAs[Long]("n")
    val m = row.getAs[Seq[Long]]("s").map(Math.floorDiv(_, n)).toArray
    val m2 = m.map(x => x * x).sum
    val mLit = array(m.map(lit(_)): _*)
    val dot = aggregate(
      zip_with(col("q"), mLit, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val q2 = aggregate(
      transform(col("q"), x => x * x), lit(0L), (acc, x) => acc + x)
    val scored = pts
      .withColumn("cos_centroid", when(q2 === 0L, lit(0.0)).otherwise(
        round4(dot.cast("double") / (sqrt(q2.cast("double")) * math.sqrt(m2.toDouble)))))
      .select(col("id").as(idCol), col("cos_centroid"))
      .orderBy(col("cos_centroid"), col(idCol))
      .limit(k)
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("cos_centroid"), col(idCol)))
        .cast("long"))
  }
}
