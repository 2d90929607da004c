package graft.pipeline

import graft.CacheScope
import graft.functions.GraftFunctions.{quant4, round4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval and corpus-characterization operators for
  * training-data curation: BM25 top-k search, per-source distinctive
  * terms (Dunning log-likelihood ratio), and winnowing fingerprints
  * (Schleimer et al., SIGMOD 2003). The reference engine has no text
  * surface (SURVEY §2.11) — these are north-star additions built for the
  * 100 TB corpus shapes: the query/term sets are the broadcast side,
  * the corpus-token relation is the only shuffled one.
  */
object Retrieval {

  /** BM25 top-k retrieval (Robertson–Spärck Jones idf, the Lucene
    * variant: `ln(1 + (N − df + 0.5)/(df + 0.5))`).
    *
    * `queries` is a small frame `(qid, qtext)` — the per-query term set
    * is deduplicated, and BM25 term frequency comes from the corpus tf
    * relation, so the plan is: one tf shuffle (map-side combinable),
    * one df shuffle off tf, a token-keyed join tf⨝df (AQE broadcasts df
    * while the vocabulary fits), a broadcast join against the query
    * terms, and one (qid, doc) aggregation. The final ranking windows
    * over qid only — |queries| partitions, each holding candidate docs
    * that actually share a term with the query, not the corpus.
    *
    * Each per-term score is quantized to 4 dp BEFORE the per-document
    * sum (the term score is a fixed-shape IEEE scalar expression, so
    * its quantization is engine-reproducible; the sum then runs on
    * integers, which are order-free — float sums are not), and ranking
    * ties break by doc id.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "qid", qtextCol: String = "qtext"): DataFrame = CacheScope.eager { cache =>
    val n = docs.count() // parquet metadata count, not a data pass
    val tf = cache.keep(TextAnalysis.withTokens(docs, textCol)
      .select(col(idCol), explode(col("w_")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf")))
    // doc length = Σ tf — derived from the cached tf relation instead of
    // re-scanning the corpus; avgdl over docs with ≥1 token (mirrored in
    // the oracle). Exact integer sums → the double division is
    // reproducible bit-for-bit.
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dlRow = dl.agg(sum(col("dl")), count(lit(1))).head()
    val avgdl = dlRow.getLong(0).toDouble / dlRow.getLong(1)
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val qterms = TextAnalysis.withTokens(queries, qtextCol)
      .select(col(qidCol), explode(array_distinct(col("w_"))).as("token"))
    val scored = tf.join(df_, "token")
      .join(dl, idCol)
      .join(broadcast(qterms), "token")
      .withColumn("s",
        idf * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)))
      .withColumn("sq", quant4(col("s")))
      .groupBy(col(qidCol), col(idCol))
      .agg((sum(col("sq")) / 10000.0).as("score"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-group distinctive terms by Dunning's log-likelihood ratio
    * (G², "Accurate Methods for the Statistics of Surprise and
    * Coincidence", 1993): for each (group, token), the 2×2 contingency
    * table (token-in-group, token-elsewhere, other-in-group,
    * other-elsewhere) scored with `2·Σ O·ln(O/E)`, keeping only
    * overrepresented terms (a/colG > b/colRest) and the top `k` per
    * group. The classic "what characterizes this source / this slice"
    * corpus-audit operator.
    *
    * Plan: one (group, token) count shuffle; token margins via a second
    * aggregation of that relation; group margins are a tiny frame joined
    * broadcast. All the G² math is per-row `Column` arithmetic.
    */
  def distinctiveTerms(docs: DataFrame, groupCol: String = "source", k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val gt = cache.keep(TextAnalysis.withTokens(docs, textCol)
      .select(col(groupCol).as("grp"), explode(col("w_")).as("token"))
      .groupBy("grp", "token").agg(count(lit(1)).as("a")))
    val tokTot = gt.groupBy("token").agg(sum(col("a")).as("ttot"))
    val grpTot = gt.groupBy("grp").agg(sum(col("a")).as("gtot"))
    val nTotal = gt.agg(sum(col("a"))).head().getLong(0).toDouble
    // xlx(o, e) = o·ln(o/e) with the 0·ln0 = 0 convention. All four
    // cells and margins go through double BEFORE any product (ttot·gtot
    // as longs would overflow at 100 TB token counts), in the exact
    // expression shape the oracle mirrors — every op is a fixed-shape
    // IEEE scalar, so the 4-dp quantization is engine-reproducible.
    def xlx(o: Column, e: Column): Column =
      when(o > 0, o * log(o / e)).otherwise(lit(0.0))
    val scored = gt.join(tokTot, "token")
      .join(broadcast(grpTot), "grp")
      .withColumn("ad", col("a").cast("double"))
      .withColumn("tt", col("ttot").cast("double"))
      .withColumn("gg", col("gtot").cast("double"))
      .withColumn("b", col("tt") - col("ad"))
      .withColumn("c", col("gg") - col("ad"))
      .withColumn("d", lit(nTotal) - col("tt") - col("gg") + col("ad"))
      .withColumn("rest", lit(nTotal) - col("gg"))
      .filter(col("ad") / col("gg") > col("b") / col("rest"))
      .withColumn("g2",
        lit(2.0) * (
          xlx(col("ad"), col("tt") * col("gg") / nTotal) +
          xlx(col("b"), col("tt") * col("rest") / nTotal) +
          xlx(col("c"), (lit(nTotal) - col("tt")) * col("gg") / nTotal) +
          xlx(col("d"), (lit(nTotal) - col("tt")) * col("rest") / nTotal)))
      .withColumn("llr", round4(col("g2")))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("llr").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("token"), col("llr"), col("rank"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003): hash
    * every `n`-token gram, slide a window of `w` consecutive gram
    * hashes, keep each window's minimum — the guarantee is that any
    * match of length ≥ w+n−1 tokens between two documents shares a
    * fingerprint. Returns the distinct `(doc_id, fp)` set.
    *
    * One posexplode + one doc-keyed window shuffle + a distinct
    * aggregate — per-doc work is linear in tokens, and fingerprint
    * cardinality is ~1/w of gram cardinality, so the output relation
    * (the thing a plagiarism/overlap join runs on) is w× smaller than
    * the full shingle set the exact-Jaccard path uses.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The whole algorithm is per-document sequential — gram hashing AND
    // the sliding window-min — so it runs inside ONE typed flatMap
    // (single MD5 per gram, monotonic-deque window min, per-doc dedup of
    // emitted fingerprints) and the only shuffle left is the global
    // distinct. The declarative form (transform/concat_ws grams →
    // md5-hex/conv → min-over-Window) paid a doc-keyed window exchange
    // plus interpreted per-gram lambda allocation: measured 7.5 s →
    // 2.0 s on the sf1 gate. Hash is bit-identical to md5Hash60(gram)
    // (first 60 digest bits), so the DuckDB oracle replays it.
    val fps = docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        val m = toks.length - n + 1 // gram count
        if (m < w) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val sb = new java.lang.StringBuilder
          val hs = new Array[Long](m)
          var p = 0
          while (p < m) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(p + j)); j += 1
            }
            val d = md.digest(sb.toString.getBytes("UTF-8"))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
            hs(p) = h >>> 4
            p += 1
          }
          // sliding min over windows of w via monotonic deque (indices
          // with increasing hash value); emit each full window's min,
          // deduped per doc
          val out = scala.collection.mutable.LinkedHashSet.empty[Long]
          val dq = new java.util.ArrayDeque[Int]()
          var i = 0
          while (i < m) {
            while (!dq.isEmpty && dq.peekFirst() <= i - w) dq.pollFirst()
            while (!dq.isEmpty && hs(dq.peekLast()) >= hs(i)) dq.pollLast()
            dq.addLast(i)
            if (i >= w - 1) out += hs(dq.peekFirst())
            i += 1
          }
          out.iterator.map(fp => (id, fp))
        }
      }
      .toDF(idCol, "fp")
    fps.distinct()
  }

  /** Collocation mining by pointwise mutual information over adjacent
    * token bigrams: `pmi(w1,w2) = ln(p(w1,w2) / (p(w1)·p(w2)))` with
    * `p(w1,w2) = c12/Nb` over bigram occurrences and `p(w) = c/Nt` over
    * token occurrences (Church & Hanks 1990). Bigrams below `minCount`
    * are dropped (rare-pair PMI explodes on noise), and the global top
    * `k` survive, ranked by quantized PMI then bigram text.
    *
    * Plan: the bigram relation flatMaps straight into a map-side-combined
    * (w1,w2) count; unigram counts are a second aggregation; the two
    * joins key on single tokens (vocabulary-sized relations — they
    * shuffle, since a 100 TB vocabulary outgrows broadcast); corpus
    * totals are two scalar aggregates. The PMI itself is one fixed-shape
    * IEEE expression over exact integer counts — cells pass through
    * double BEFORE any product (the distinctiveTerms overflow rule) and
    * quantize to 4 dp, so the oracle replays it bit-for-bit.
    */
  def pmiCollocations(docs: DataFrame, k: Int = 20, minCount: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val spark = docs.sparkSession
    import spark.implicits._
    val uni = cache.keep(TextAnalysis.withTokens(docs, textCol)
      .select(explode(col("w_")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")))
    val big = cache.keep(docs
      .select(col(textCol)).as[String]
      .flatMap { text =>
        val t = text.split(" ", -1)
        (0 until t.length - 1).iterator.map(i => (t(i), t(i + 1)))
      }
      .toDF("w1", "w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val nt = uni.agg(sum(col("c"))).head().getLong(0).toDouble
    val nb = big.agg(sum(col("c12"))).head().getLong(0).toDouble
    // top-k via orderBy+limit = TakeOrdered (distributed partial top-k,
    // no global exchange); the rank window then runs over k rows only
    big.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .withColumn("pmi", round4(
        log((col("c12").cast("double") * nt * nt) /
          (lit(nb) * col("c1").cast("double") * col("c2").cast("double")))))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1"), col("w2"))).cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"), col("rank"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-bigram features are
    * under a small TARGET corpus than under the raw pool, then keep the
    * top `k`. `log w(d) = Σ_grams [ln p̂_target(b(g)) − ln p̂_raw(b(g))]`
    * where `b(g)` hashes the bigram into one of `buckets` counting
    * buckets and both distributions are add-α smoothed bucket unigrams.
    *
    * Determinism/scale shape: the bucket log-ratio table has exactly
    * `buckets` rows — built by two map-side-combined aggregations whose
    * shuffles carry ≤ `buckets` rows, quantized to 4 dp (each ratio is a
    * fixed-shape IEEE scalar over exact integer counts), and joined back
    * BROADCAST against the per-doc gram stream; the per-document weight
    * is then an integer sum (order-free) divided once. One doc-keyed
    * aggregation exchange total; nothing scales with the corpus except
    * the gram flatMap itself.
    */
  def dsirWeights(docs: DataFrame, targetPred: Column, k: Int = 50,
      buckets: Int = 4096, alpha: Double = 1.0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val spark = docs.sparkSession
    import spark.implicits._
    def gramBuckets(d: DataFrame): DataFrame = d
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 until t.length - 1).iterator.map { i =>
          val d8 = md.digest((t(i) + " " + t(i + 1)).getBytes("UTF-8"))
          var h = 0L
          var j = 0
          while (j < 8) { h = (h << 8) | (d8(j) & 0xffL); j += 1 }
          (id, ((h >>> 4) % buckets).toInt)
        }
      }
      .toDF("id", "b")
    val raw = cache.keep(gramBuckets(docs))
    val rawCnt = raw.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgtCnt = gramBuckets(docs.filter(targetPred))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val nr = raw.count().toDouble
    val ntRow = tgtCnt.agg(sum(col("ct"))).head()
    val ntg = if (ntRow.isNullAt(0)) 0.0 else ntRow.getLong(0).toDouble
    // dense ratio table: every bucket gets a row (unseen buckets carry
    // the pure-smoothing ratio), so the probe join is a plain inner join
    val lr = spark.range(buckets).select(col("id").cast("int").as("b"))
      .join(tgtCnt, Seq("b"), "left").join(rawCnt, Seq("b"), "left")
      .withColumn("lrq", quant4(
        log((coalesce(col("ct"), lit(0L)).cast("double") + alpha) /
             lit(ntg + alpha * buckets)) -
         log((coalesce(col("cr"), lit(0L)).cast("double") + alpha) /
             lit(nr + alpha * buckets))))
      .select("b", "lrq")
    // top-k selection via TakeOrdered (orderBy+limit), rank over k rows
    raw
      .join(broadcast(lr), "b")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"), (sum(col("lrq")) / 10000.0).as("weight"))
      .orderBy(col("weight").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col(idCol))).cast("long"))
  }

  /** Source-pair vocabulary overlap: Jaccard similarity between every
    * two sources' distinct-token sets — the redundancy matrix a mixture
    * designer reads before weighting sources (two near-identical crawls
    * shouldn't both get full weight). Pairs sharing no token are omitted
    * (inner join) — identically in the oracle.
    *
    * Determinism: intersection/union sizes are exact integers; the one
    * final division is quantized at 4 dp. 100 TB shape: one distinct
    * shuffle on (source, token); the self-join key is a token that
    * appears at most n_sources times post-distinct, so the join is
    * |vocab|·n_sources-bounded, never corpus-sized; per-source set
    * sizes ride in via a broadcast of an n_sources-row frame.
    */
  def sourceOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val st = cache.keep(docs
      .select(col(groupCol).as("src"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .distinct())
    val sizes = st.groupBy("src").agg(count(lit(1)).as("n"))
    val inter = st.toDF("src_a", "t")
      .join(st.toDF("src_b", "t"), "t")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("src_a", "na")), "src_a")
      .join(broadcast(sizes.toDF("src_b", "nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        round4(col("n_common").cast("double")
          / (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** TextRank keyword salience (Mihalcea & Tarau, EMNLP 2004): PageRank
    * (Brin & Page 1998) over the corpus's directed bigram graph — an
    * edge per distinct adjacent token pair — scoring every vocabulary
    * word by how central it is to the corpus's phrase structure. The
    * curation read: rank-weighted vocab beats raw frequency for picking
    * domain terms (frequency rewards boilerplate; centrality rewards
    * words that connect many contexts).
    *
    * Determinism contract: ranks are integers on a 1e-8 grid. With
    * damping 3/4, each iteration is
    *   r'(v) = ⌊r₀/4⌋ + ⌊3·Σ_{u→v}⌊r(u)/out(u)⌋ / 4⌋,  r₀ = ⌊S/N⌋
    * — integer sums are order-free, and the two floored divisions are
    * float divides whose operands stay < 2^53 with quotients ≥ 1/out(u)
    * away from integer boundaries, so Spark and DuckDB floor
    * identically. Dangling mass (words that only end documents) is
    * dropped, not redistributed — both engines drop it alike.
    *
    * 100 TB shape: the edge list is |vocab²|-bounded but corpus-sparse
    * (one explode + distinct), degrees are one map-side-combined
    * groupBy, and each of the `iters` rounds is one shuffle join of the
    * rank frame (|V| rows) against the static edge frame plus one
    * keyed aggregation — the canonical distributed PageRank; nothing is
    * ever collected to the driver.
    */
  def textRank(docs: DataFrame, iters: Int = 5,
      textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val Scale = 100000000L
    val w = TextAnalysis.tokens(col(textCol))
    val edges = cache.keep(docs
      .select(explode(zip_with(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val vertices = cache.keep(edges.select(col("src").as("word"))
      .union(edges.select(col("dst"))).distinct())
    val nv = vertices.count()
    val r0 = Math.floorDiv(Scale, nv)
    val tele = Math.floorDiv(r0, 4)
    // static (src, dst, out) frame reused every round
    val ed = cache.keep(edges.join(
      edges.groupBy("src").agg(count(lit(1)).as("out")), "src"))
    ed.count()
    // the 5 bounded rounds stay ONE lazy job (a measured 2× win over
    // per-round blocking materialization at gate scale, where
    // scheduling overhead dominates |V|-row frames); at many more
    // iterations or web-scale |V| you'd persist+count each round to
    // truncate the compounding lineage — the standard iterative lever
    var ranks = vertices.withColumn("r", lit(r0))
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks.withColumnRenamed("word", "src"), "src")
        .select(col("dst"),
          floor(col("r").cast("double") / col("out")).cast("long").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = vertices
        .join(contrib.withColumnRenamed("dst", "word"), Seq("word"), "left")
        .select(col("word"),
          (lit(tele) + floor(lit(3) * coalesce(col("s"), lit(0L)) / 4.0)
            .cast("long")).as("r"))
    }
    ranks
      .select(col("word"), (col("r") / Scale.toDouble).as("rank"))
      .orderBy("word")
  }
}
