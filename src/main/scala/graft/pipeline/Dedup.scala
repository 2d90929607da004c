package graft.pipeline

import graft.CacheScope
import graft.functions.GraftFunctions.{md5Hash60, round4}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as
  * shuffle-on-key aggregations that hold at 100 TB:
  *
  *   - exact: one hash-groupBy on the content digest
  *   - n-gram Jaccard: shingle self-join (with a document-frequency cap to
  *     kill hot-shingle skew)
  *   - MinHash+LSH: signatures via min-aggregation, candidates via
  *     band-bucket join — avoids the all-pairs comparison entirely
  *   - SimHash: bit-vote aggregation + chunk-bucket join for small
  *     Hamming radii
  *   - embedding cosine near-dup: see [[Similarity]] for the bucketed path
  *
  * All hash functions are md5-derived so the DuckDB oracle can reproduce
  * them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: group by content digest, keep the smallest id.
    * Returns (id, keep_id); rows with id != keep_id are duplicates.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .withColumn("digest", md5(col(textCol)))
      .withColumn("keep_id", min(col(idCol)).over(Window.partitionBy(col("digest"))))
      .select(col(idCol), col("keep_id"))

  /** C4/RefinedWeb-style intra-corpus span dedup: split each document
    * into spans (sentences here, on `". "`; C4 uses three-sentence spans,
    * CCNet dedupes paragraphs/lines — same shape), keep only the globally
    * FIRST occurrence of each distinct span (smallest (doc_id, position)),
    * and reassemble the surviving spans in document order.
    *
    * Scale shape: span TEXT never shuffles. The first-occurrence choice
    * reduces each span to its 8-byte xxhash64 and runs as a
    * min(struct(id, pos)) aggregation keyed on that hash — map-side
    * combined, so a hot span (boilerplate repeated millions of times)
    * collapses to one candidate per map task before the exchange ever
    * sees it (the row_number-window formulation this replaced shuffled
    * the raw sentence string as the key AND funneled every copy of a hot
    * span into one task). Winners fold to per-doc kept-position lists
    * (second keyed agg, again 8-byte keys), and ONE id-keyed join back
    * to the input reassembles each document per-row from its own split —
    * hash collisions (~|spans|²/2⁶⁴) merge two distinct spans and cost a
    * span wrongly dropped, the [[dupWindowStats]] trade.
    *
    * Returns (doc_id, clean_text, n_spans, n_dropped); documents whose
    * every span was seen earlier come back with empty clean_text rather
    * than vanishing (the caller decides whether empty docs survive).
    */
  def spanDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\\. ", joiner: String = ". "): DataFrame = {
    val arr = split(col(textCol), sep)
    // (h, id, pos): one row per non-empty span, text reduced to its hash
    // BEFORE anything shuffles; pos indexes the full split array so the
    // reassembly can address spans without re-deriving the filter
    val spans = docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(arr).as(Seq("pos", "span")))
      .filter(length(col("span")) > 0)
      .select(xxhash64(col("span")).as("h"), col("id"), col("pos"))
    // globally first occurrence per distinct span: min over (id, pos)
    val winners = spans.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("w"))
      .select(col("w.id").as("id"), col("w.pos").as("pos"))
    // per-doc kept positions, ascending (document order)
    val keepPos = winners.groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("keeps"))
    docs
      .select(col(idCol).cast("long").as("id"), arr.as("sp_"))
      .withColumn("n_spans",
        size(filter(col("sp_"), s => length(s) > 0)).cast("long"))
      .filter(col("n_spans") > 0) // no spans ⇒ absent, as before
      .join(keepPos, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        when(col("keeps").isNull, lit(""))
          .otherwise(array_join(transform(col("keeps"),
            p => element_at(col("sp_"), p + 1)), joiner)).as("clean_text"),
        col("n_spans"),
        (col("n_spans") -
          when(col("keeps").isNull, lit(0)).otherwise(size(col("keeps"))))
          .cast("long").as("n_dropped"))
  }

  /** Window-level duplication profile — the fixed-window flavor of
    * substring dedup (every `w`-token window hashed, windows seen more
    * than once across the corpus counted per doc). Spans/paragraphs are
    * [[spanDedup]]'s job; this catches verbatim reuse that crosses span
    * boundaries. Returns one row per doc with ≥w tokens:
    * `(id, n_windows, n_dup_windows, dup_frac)` where a window is "dup"
    * iff its text occurs ≥2 times corpus-wide (across docs OR repeated
    * inside one doc).
    *
    * Scale shape: explode to one row per window position (|tokens| rows),
    * then IMMEDIATELY reduce each window to its xxhash64 — the count
    * aggregation shuffles 8-byte longs, never 50-100 byte window strings
    * (the [[shingleHashes]] lesson; collisions ~|windows|²/2⁶⁴ are
    * negligible). `n_windows` is pure per-row arithmetic (`tokens−w+1`),
    * so the only join carries the DUPLICATED grams (count ≥ 2) — in a
    * mostly-unique corpus that's a sliver of the gram table and AQE
    * broadcasts it, leaving one map-side-combined exchange as the whole
    * shuffle footprint. No quadratic pair work anywhere.
    */
  def dupWindowStats(docs: DataFrame, w: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = transform(
      sequence(lit(0), size(toks) - w),
      i => array_join(slice(toks, i + 1, lit(w)), " "))
    val base = docs.filter(size(toks) >= w)
    // window-position count needs no explode: T tokens ⇒ T−w+1 positions
    val nWin = base.select(col(idCol).cast("long").as("id"),
      (size(toks) - (w - 1)).cast("long").as("n_windows"))
    // every position kept (no per-doc distinct): in-doc repetition counts
    val win = base
      .select(col(idCol).cast("long").as("id"), explode(grams).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    val dup = win.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val nDup = win.join(dup, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    nWin.join(nDup, Seq("id"), "left")
      .na.fill(0L, Seq("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows") / col("n_windows").cast("double"))
      .select(col("id").as(idCol), col("n_windows"), col("n_dup_windows"),
        col("dup_frac"))
  }

  /** Substring-dedup REMOVAL at window granularity (the direction of
    * suffix-array exact-substring dedup, Lee et al. 2022, approximated on
    * fixed w-token windows): every w-token window is hashed corpus-wide;
    * the globally FIRST occurrence of each window (smallest (doc, pos))
    * survives, and tokens covered by any LATER occurrence are cut from
    * their document. Catches verbatim reuse that crosses sentence/span
    * boundaries — the case [[spanDedup]]'s span key misses. Boundary
    * behavior is the standard window approximation: a duplicated region
    * shorter than w tokens is never cut, and a cut region's edges are
    * trimmed at window resolution.
    *
    * Scale shape ([[dupWindowStats]]' lesson): the first-occurrence
    * choice is one shuffle keyed by the 60-bit window hash (8-byte keys,
    * never window text; the window over it ranks within each hash group),
    * the cut-start lists aggregate per doc (second shuffle, map-side
    * combined), and the reassembly joins docs once on id (third). The
    * per-row cut itself is array math over (positions × cut-starts) —
    * bounded by document length times its duplicated-window count.
    *
    * Returns every doc: (id, clean_text, n_tokens, n_removed); untouched
    * docs come back verbatim.
    */
  def dropDupWindows(docs: DataFrame, w: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = split(col(textCol), " ")
    // (id, pos, h): one row per window position, reduced immediately to
    // xxhash64 — the shuffle carries 8-byte keys, never window text (the
    // [[dupWindowStats]] lesson; the oracle partitions by the window
    // text itself, identical up to negligible 64-bit collisions)
    val win = docs
      .filter(size(toks) >= w)
      .select(col(idCol).cast("long").as("id"), toks.as("w_"))
      .select(col("id"), posexplode(transform(
        sequence(lit(1), size(col("w_")) - (w - 1)),
        i => xxhash64(concat_ws(" ", slice(col("w_"), i, lit(w)))))))
      .select(col("id"), (col("pos") + 1).as("i"), col("col").as("h"))
    val firstW = Window.partitionBy(col("h")).orderBy(col("id"), col("i"))
    val cutStarts = win
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") > 1)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("i"))).as("cuts"))
    docs
      .select(col(idCol).cast("long").as("id"), toks.as("w_"))
      .join(cutStarts, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        when(col("cuts").isNull, array_join(col("w_"), " "))
          .otherwise(array_join(transform(
            filter(sequence(lit(1), size(col("w_"))), p =>
              !exists(col("cuts"), s => s <= p && p < s + w)),
            p => element_at(col("w_"), p)), " "))
          .as("clean_text"),
        size(col("w_")).cast("long").as("n_tokens"),
        when(col("cuts").isNull, lit(0L))
          .otherwise(size(filter(sequence(lit(1), size(col("w_"))), p =>
            exists(col("cuts"), s => s <= p && p < s + w))).cast("long"))
          .as("n_removed"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle). Rows are
    * unique per (id, shingle) already — `array_distinct` dedupes within
    * the doc and ids are unique — so no shuffle happens here.
    */
  def shingles(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = split(col(textCol), " ")
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => array_join(slice(toks, i + 1, lit(n)), " "))
    docs
      .filter(size(toks) >= n) // sequence(0, negative) would error
      .select(col(idCol).as("id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** Hashed shingles: (id, h, hp) with `h` a 64-bit join/intersection key
    * and `hp` the oracle-shared 60-bit md5 hash mod [[MinhashP]] (the
    * MinHash base hash, reproducible in DuckDB).
    *
    * One typed flatMap does tokenize → shingle → per-doc dedup → ONE md5
    * per shingle, deriving both hashes from the same digest. The
    * declarative form (split + transform/slice/array_join + array_distinct
    * + explode + md5-hex + conv) evaluates interpreted higher-order
    * lambdas allocating per-shingle arrays and hex strings — ~10× the
    * cost, re-run once per consuming plan branch. Downstream work then
    * shuffles 8-byte longs, never shingle text. Collisions
    * (~|shingles|²/2⁶⁴) are negligible.
    */
  def shingleHashes(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < n) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val seen = scala.collection.mutable.HashSet.empty[String]
          (0 to toks.length - n).iterator.flatMap { i =>
            val sb = new java.lang.StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            val s = sb.toString
            if (seen.add(s)) {
              val d = md.digest(s.getBytes("UTF-8"))
              var h = 0L
              var k = 0
              while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
              // first 15 hex chars == top 60 bits of the first 8 bytes
              Some((id, h, (h >>> 4) % MinhashP))
            } else None
          }
        }
      }
      .toDF("id", "h", "hp")
  }

  /** Run two INDEPENDENT eager chain builders as concurrent Spark jobs
    * (optimization guide §2.6): Spark's scheduler happily runs several
    * jobs at once in one application — composite operators that
    * materialize two detector chains back-to-back otherwise leave most
    * of the cluster idle through each chain's straggler tail. FIFO
    * scheduling makes the second chain's tasks back-fill executors the
    * first chain's tail frees. Each builder must be self-contained
    * (builds AND materializes its own frames — every producer in this
    * module is, and releases them through its [[CacheScope]] when it
    * fails or is cancelled); failures propagate to the caller unchanged.
    *
    * The chains' jobs run under the caller's job group and description
    * (the pool threads inherit its local properties), so cancelling the
    * caller's group cancels both chains.
    */
  private[graft] def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future, Promise}
    import scala.concurrent.duration.Duration
    import scala.util.Failure
    // a dedicated 2-thread pool per call, not the shared global EC: the
    // builders block on Spark actions for seconds-to-minutes, and two
    // such tasks parked on the CPU-sized global pool could starve other
    // users of it. One thread per builder is what keeps both running;
    // the pool dies with the call. Its threads are created by the first
    // two submissions below, from the calling thread, so they inherit
    // the caller's Spark local properties (job group, description).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // resolved lazily and defensively: a builder may be the thing that
    // CREATES the session (tests), so "no session yet" just means
    // nothing to tag/cancel yet
    def scOpt = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)
    // a job tag, unlike a job group, adds to the caller's properties
    // instead of replacing them: it only lets a failure cancel the
    // sibling chain's jobs, interrupting their task threads so a task
    // deep in a per-record UDF frees its core before this call returns
    val tag = "graft-inParallel-" + inParallelSeq.incrementAndGet()
    def run[T](f: => T): Future[T] = Future {
      scOpt.foreach { sc => sc.addJobTag(tag); sc.setInterruptOnCancel(true) }
      f
    }(ec)
    val f1 = run(fa)
    val f2 = run(fb)
    // fail-FAST on either side (Future.zip alone waits out f1 before it
    // can see f2's failure), then cancel the surviving chain's Spark
    // jobs, interrupt its pre-Spark work, and await its termination:
    // without that, the orphaned chain kept computing in the background
    // and contaminated the NEXT gates' timed runs after Bench/Verify
    // caught the error. The second cancel ends a job the chain submitted
    // between the first and its interrupt. Callbacks run on the
    // completing thread, so none is left for the pool once it shuts down.
    val first = Promise[(A, B)]()
    val parasitic = ExecutionContext.parasitic
    f1.onComplete { case Failure(t) => first.tryFailure(t); case _ => () }(parasitic)
    f2.onComplete { case Failure(t) => first.tryFailure(t); case _ => () }(parasitic)
    f1.zip(f2).onComplete(first.tryComplete)(parasitic)
    try Await.result(first.future, Duration.Inf)
    catch {
      case t: Throwable =>
        def cancel(): Unit =
          try scOpt.foreach(_.cancelJobsWithTag(tag))
          catch { case _: Throwable => () }
        cancel()
        pool.shutdownNow()
        try Await.ready(f1, Duration.Inf) catch { case _: Throwable => () }
        try Await.ready(f2, Duration.Inf) catch { case _: Throwable => () }
        cancel()
        throw t
    } finally pool.shutdown()
  }
  private val inParallelSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Every doc pair sharing a shingle, `(id1, id2, i, n1, n2)` with
    * id1 < id2: the intersection size `i` and both set sizes, by a
    * shared-shingle equi-join. `maxDocFreq` drops shingles in more docs
    * than that first (see [[ngramJaccardPairs]]).
    */
  private def sharedShingles(cache: CacheScope, docs: DataFrame, n: Int,
      maxDocFreq: Option[Int]): DataFrame = {
    // consumed by three plan branches (sizes + both join sides) — kept
    // so tokenize+md5 runs once; spills to disk when it outgrows memory
    var sh: DataFrame = cache.keep(shingleHashes(docs, n).select("id", "h"))
    maxDocFreq.foreach { cap =>
      val hot = sh.groupBy("h").count().filter(col("count") > cap).select("h")
      sh = sh.join(hot, Seq("h"), "left_anti")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n", "n2"), "id2")
  }

  /** Near-duplicate pairs by exact n-gram Jaccard ≥ `threshold`.
    * `maxDocFreq` drops shingles appearing in more than that many docs —
    * the standard skew guard: a stop-shingle shared by 1M docs would
    * otherwise create a 10^12-row join. ON by default (a cap of 1000 is
    * far above anything a ≥0.8-jaccard pair depends on, and the docs a
    * hot shingle would connect are nowhere near duplicates); pass None
    * only when the corpus is known skew-free.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame = CacheScope.eager { cache =>
    sharedShingles(cache, docs, n, maxDocFreq)
      .withColumn("jaccard",
        col("i").cast("double") / (col("n1") + col("n2") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact all-pairs Jaccard ≥ `threshold` via PREFIX FILTERING
    * (Bayardo, Ma & Srikant, WWW 2007; Chaudhuri et al.'s SSJoin bound):
    * order every document's shingle set by ascending global document
    * frequency (rarest first, hash tie-break), keep only each set's
    * first `|S| − ⌈t·|S|⌉ + 1` shingles, and join ONLY on those. Any pair
    * with `J ≥ t` must overlap by more than `|S|` minus that prefix on
    * either side, so it shares a prefix shingle — the candidate set is
    * provably LOSSLESS while the join relation shrinks by ~t of its
    * volume, concentrated in exactly the frequent shingles that make the
    * plain inverted-index self-join ([[ngramJaccardPairs]]) quadratic.
    * Verification then touches candidates only (set-intersection sizes,
    * the minhash-verify shape) — never the full shingle self-join.
    *
    * Plan: one df aggregation, one doc-keyed window for prefix ranks,
    * the prefix-only self-join, and a candidate-keyed verify join. At
    * 100 TB the prefix relation is the only thing the B²-prone join
    * ever sees, and its hottest keys are by construction the corpus's
    * RAREST shingles.
    */
  def prefixFilterPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8): DataFrame = CacheScope.eager { cache =>
    // kept: consumed by the df aggregation and both verify join branches
    val sh0 = cache.keep(shingleHashes(docs, n).select("id", "h"))
    val dfreq = sh0.groupBy("h").agg(count(lit(1)).as("df"))
    val ranked = sh0.join(dfreq, "h")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("id")))
    // ASYMMETRIC prefixes (SSJoin/ppjoin): orient every pair smaller ⊠
    // larger. The larger (probe) side needs the full Jaccard prefix
    // |S|−⌈t·|S|⌉+1, but the smaller (index) side only
    // |S|−⌈2t/(1+t)·|S|⌉+1 — about half at t=0.8 — because a pair with
    // J ≥ t overlaps by α = ⌈t/(1+t)·(|x|+|y|)⌉ ≥ ⌈2t/(1+t)·|x|⌉ and a
    // shared token must land within each side's first |S|−α+1 slots.
    // The −1e-9 inside each ceil keeps the prefix from losing a slot to
    // binary-float drift (0.8·5 evaluates to 4.0000000000000002, whose
    // bare ceil is 5 → a one-short, LOSSY prefix); erring longer is
    // always lossless.
    val idxFrac = 2.0 * threshold / (1.0 + threshold)
    // one kept frame for both prefixes (the index prefix is a
    // subset of the probe prefix): the asymmetric self-join's sides are
    // no longer identical subplans, so without this the df-rank window
    // pipeline would execute once PER SIDE (ReuseExchange only
    // deduplicates identical plans)
    val prefProbe = cache.keep(ranked
      .filter(col("pos") <= col("n") - ceil(lit(threshold) * col("n") - 1e-9) + 1)
      .withColumn("inIdx",
        col("pos") <= col("n") - ceil(lit(idxFrac) * col("n") - 1e-9) + 1)
      .select("id", "h", "pos", "n", "inIdx"))
    val prefIdx = prefProbe.filter(col("inIdx"))
    // Candidate join: smaller-side index prefix ⊠ larger-side probe
    // prefix on the shingle, with the LENGTH filter (J ≥ t forces
    // |x| ≥ t·|y|) fused into the join condition, then the PPJOIN
    // POSITIONAL FILTER (Xiao et al., WWW 2008), still lossless:
    // because every document's shingles sit in the SAME global (df, h)
    // order, the first prefix∩prefix match w of a pair is the pair's
    // globally first common shingle (any earlier common shingle would
    // itself be a prefix∩prefix match on both sides), so
    //   |A∩B| ≤ 1 + min(|A|−pos_A(w), |B|−pos_B(w)),
    // and J ≥ t needs |A∩B| ≥ t·(|A|+|B|)/(1+t). The groupBy replaces a
    // distinct() — same shuffle — and these filters are what keep the
    // verify stage from expanding pairs that can't possibly pass.
    // Measured sf0.1 → sf1 (10× docs, decorrelated): prefix-join rows
    // 27.1k → 271k, grouped candidates 25.6k → 256k, post-positional
    // 12.9k → 128k, verify-expansion rows 909k → 9.04M — every stage
    // exactly 10×, i.e. the whole pipeline is LINEAR in corpus size on
    // a corpus whose shingle-df distribution is scale-stable.
    val cand = prefIdx.as("a")
      .join(prefProbe.as("b"), col("a.h") === col("b.h") &&
        (col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") && col("a.id") < col("b.id"))) &&
        col("a.n").cast("double") >= lit(threshold) * col("b.n") - 1e-9)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .agg(min(col("a.pos")).as("p1"), min(col("b.pos")).as("p2"))
      .filter(lit(1.0) + least(col("n1") - col("p1"), col("n2") - col("p2")) >=
        lit(threshold) / (1.0 + threshold) * (col("n1") + col("n2")) - 1e-9)
    // Verify without ever shipping a shingle SET: expand each candidate
    // pair by its smaller (id1) side's (id,h) rows, equi-join the
    // expansion against the larger side's rows on (id,h) to count the
    // intersection, and derive the union from exact per-doc set sizes
    // (shingleHashes dedupes per doc, so n == |S|). Every shuffled row
    // is fixed-width — a doc in P candidate pairs costs P·|S_min|
    // 24-byte rows, not P full arrays — and zero-intersection
    // candidates drop out of the inner join for free.
    val inter = cand
      .join(sh0.select(col("id").as("id1"), col("h")), Seq("id1"))
      .join(sh0.select(col("id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy("id1", "id2", "n1", "n2").agg(count(lit(1)).as("i"))
    inter
      .withColumn("jaccard",
        col("i").cast("double") / (col("n1") + col("n2") - col("i")))
      .filter(col("jaccard") >= threshold)
      // canonical id1 < id2 output regardless of the size orientation
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"), col("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs: `C(A→B) = |A∩B| / |A| ≥ threshold`
    * over n-gram shingle sets — the quote/boilerplate detector. Jaccard
    * symmetrizes by the union, so a small document wholly quoted inside
    * a large one scores near |A|/|B| ≈ 0 and the whole near-dup family
    * misses it; containment scores it 1.0. Returns one row per ordered
    * relation that clears the threshold: (id_small, id_big, containment)
    * with `contained` = the id whose set is covered.
    *
    * Plan shape = [[ngramJaccardPairs]] (shared-shingle equi-join with
    * the same `maxDocFreq` hot-shingle guard, per-pair intersection
    * counts, sizes joined back); emitting both orientations from the one
    * unordered intersection relation costs a projection, not a second
    * join.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.9,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame = CacheScope.eager { cache =>
    val withSizes = sharedShingles(cache, docs, n, maxDocFreq)
    // both orientations from the one intersection relation
    withSizes.select(col("id1").as("contained"),
        col("id2").as("container"),
        (col("i").cast("double") / col("n1")).as("containment"))
      .unionAll(withSizes.select(col("id2").as("contained"),
        col("id1").as("container"),
        (col("i").cast("double") / col("n2")).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** MinHash-ESTIMATED containment — the at-scale sibling of the exact
    * [[containmentPairs]] quadratic: LSH band buckets propose candidate
    * pairs, the signature match fraction estimates Jaccard
    * (ĵ = matches/8), and containment follows from the
    * inclusion–exclusion identity |A∩B| = J·(|A|+|B|)/(1+J) with exact
    * per-doc shingle-set sizes. Nothing ever hauls a shingle SET across
    * the shuffle — only 8 signature slots and one count per doc — so the
    * verify stage is O(candidates), not O(candidates · set size).
    *
    * Determinism: match counts are integers, ĵ is an exact eighth, set
    * sizes are exact integers, and the one estimate expression
    * `ĵ/(1+ĵ)·(n1+n2)/n_contained` is the same left-associated IEEE
    * shape in both engines, quantized at 4 dp.
    */
  def containmentEstimate(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 100): DataFrame = CacheScope.eager { cache =>
    val base = cache.keep(shingleHashes(docs, n)
      .groupBy("id")
      .agg(signatureMins.head, (signatureMins.tail :+ count(lit(1)).as("nsh")): _*))
    val cand = bandPairs(capBandBuckets(bandRows(base), maxBucket))
    def sigAs(suffix: String) = base.select(
      (col("id").as(s"id$suffix") +: col("nsh").as(s"n$suffix") +:
        (0 until 8).map(i => col(s"m$i").as(s"m${i}_$suffix"))): _*)
    val matches = (0 until 8).map(i =>
      when(col(s"m${i}_1") === col(s"m${i}_2"), 1).otherwise(0))
      .reduce(_ + _)
    val scored = cand
      .join(sigAs("1"), "id1").join(sigAs("2"), "id2")
      .withColumn("jhat", matches.cast("double") / 8.0)
      .select(col("id1"), col("id2"), col("jhat"), col("n1"), col("n2"))
    // both orientations in ONE traversal of the scored candidates (a
    // unionAll of two selects would recompute the candidate joins twice)
    def estExpr(nc: Column) =
      col("jhat") / (col("jhat") + 1.0) * (col("n1") + col("n2")) / nc
    scored
      .select(explode(array(
        struct(col("id1").as("contained"), col("id2").as("container"),
          estExpr(col("n1")).as("e")),
        struct(col("id2").as("contained"), col("id1").as("container"),
          estExpr(col("n2")).as("e")))).as("o"))
      .select(col("o.contained").as("contained"),
        col("o.container").as("container"), col("o.e").as("e"))
      .filter(col("e") >= threshold)
      .select(col("contained"), col("container"),
        round4(col("e")).as("est"))
  }

  /** MinHash parameters shared with the oracle SQL: universal hashes
    * `g_i(h) = (a_i*h + b_i) mod P` over the 60-bit md5 shingle hash
    * reduced mod P. 8 hashes in 4 bands of 2.
    */
  val MinhashP: Long = 2147483647L
  val MinhashA: Seq[Long] = Seq(1103L, 12289L, 331L, 7577L, 901L, 5519L, 241L, 6007L)
  val MinhashB: Seq[Long] = Seq(12345L, 101L, 20201L, 761L, 4099L, 33301L, 515L, 9001L)

  /** The signature aggregates m0..m7 over a shingle relation's `hp`. */
  private val signatureMins: Seq[Column] =
    MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("hp") * a + b, lit(MinhashP))).as(s"m$i")
    }

  /** Signatures from [[shingleHashes]] rows — `hp` is the oracle-shared
    * md5-derived base hash, so signatures reproduce in DuckDB.
    */
  private def signaturesFrom(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(signatureMins.head, signatureMins.tail: _*)

  /** Per-document MinHash signature columns m0..m7. */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    signaturesFrom(shingleHashes(docs, n))

  /** Explode signature columns m0..m7 into 4 band rows
    * `(id, band, x, y)` — the LSH bucket keys.
    */
  private def bandRows(sig: DataFrame): DataFrame = sig.select(
    col("id"),
    explode(array((0 until 4).map(k =>
      struct(lit(k).as("band"), col(s"m${2 * k}").as("x"), col(s"m${2 * k + 1}").as("y"))): _*))
      .as("bk"))
    .select(col("id"), col("bk.band"), col("bk.x"), col("bk.y"))

  /** Distinct doc pairs `(id1, id2)`, id1 < id2, sharing a band bucket. */
  private def bandPairs(banded: DataFrame): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()

  /** Adds the exact Jaccard of the shingle-hash sets `hs1` and `hs2`: the
    * intersection size `i` and `jaccard`.
    */
  private def withSetJaccard(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("i", size(array_intersect(col("hs1"), col("hs2"))).cast("double"))
      .withColumn("jaccard",
        col("i") / (size(col("hs1")) + size(col("hs2")) - col("i")))

  /** LSH candidate pairs (band match on the signature), verified by exact
    * Jaccard ≥ `threshold`. The band join is the scale path: candidates
    * bucket by (band, minhash values) instead of comparing all pairs, and
    * verification touches ONLY candidate pairs — each joins its two
    * shingle sets and intersects them, never the full shingle self-join.
    *
    * `maxBucket` is the band-bucket skew guard: a (band, bucket) with B
    * members contributes B²/2 candidate pairs, so one pathological bucket
    * (boilerplate or tiny-vocab corpora collapse many docs onto the same
    * band signature) makes the join quadratic regardless of how well the
    * rest of the corpus disperses. Buckets above the cap are dropped
    * wholesale before the self-join — the same move as
    * [[ngramJaccardPairs]]' `maxDocFreq` — and the oracle SQL replays the
    * identical cap, so the guarded result stays hash-checked. On the test
    * corpus the largest observed bucket is 9 (sf0.1), >10× under the
    * default; ≤ 0 disables. The bucket-size filter is a semi-join on the
    * same (band, x, y) key the candidate join shuffles on, so it rides
    * the exchange that join needs anyway.
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxBucket: Int = 100): DataFrame = CacheScope.eager { cache =>
    // ONE aggregation over the shingle relation produces BOTH the
    // signature columns and the verification sets — previously two
    // groupBys (signatures + collect_set) each shuffled the full
    // 8-byte-hash relation; fusing them halves the largest shuffle and
    // lets the shingle flatMap stream straight into the aggregation
    // with no persist (measured 7.2 s → 5.6 s on the sf1 gate)
    val base = cache.keep(shingleHashes(docs, n)
      .groupBy("id")
      .agg(signatureMins.head, (signatureMins.tail :+ collect_set(col("h")).as("hs")): _*))
    // explode into 4 band keys: (band_id, m_{2k}, m_{2k+1})
    val cand = bandPairs(capBandBuckets(bandRows(base), maxBucket))
    // exact verification per candidate: shingle-hash-set intersection
    // (the sets rode along in the fused aggregation above)
    val sets = base.select(col("id"), col("hs"))
    cand
      .join(sets.select(col("id").as("id1"), col("hs").as("hs1")), "id1")
      .join(sets.select(col("id").as("id2"), col("hs").as("hs2")), "id2")
      .transform(withSetJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** The corpus-side LSH dedup index: one row per (doc, band) with the
    * band's minhash bucket key — what a 100 TB pipeline PERSISTS between
    * ingest batches so new data dedups against the whole corpus without
    * ever re-scanning it. Pairs with [[shingleHashes]] output (also
    * persisted) as the verification side; both are plain columnar tables,
    * partitionable by band/bucket.
    */
  def lshBandIndex(docs: DataFrame, n: Int = 3): DataFrame =
    bandRows(minhashSignatures(docs, n))

  /** Drop band-index rows living in buckets above `maxBucket` members —
    * the skew fuse a pipeline applies ONCE when (re)writing its
    * persisted index rather than on every batch probe. `maxBucket <= 0`
    * returns the index unchanged.
    */
  def capBandBuckets(index: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) index
    else index.join(
      index.groupBy("band", "x", "y").agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") <= maxBucket).drop("_bc"),
      Seq("band", "x", "y"), "left_semi")

  /** Incremental near-dup detection: match NEW docs against an existing
    * corpus via its persisted [[lshBandIndex]] + shingle table, without
    * touching corpus text. The scale shape of continuous ingestion —
    * cost scales with the BATCH (new-side shingling + a band join that
    * reads only matching index buckets + candidate-only verification),
    * not the corpus: the corpus index is hash-partitioned on the band
    * key, so the batch's band probe is a co-partitioned join, and
    * verification joins corpus shingle sets for candidate ids only.
    *
    * Returns `(new_id, corpus_id, jaccard)` — new docs with a match are
    * duplicates of existing data; the caller drops them and appends the
    * survivors' shingles/bands to the index tables.
    */
  def incrementalNearDups(newDocs: DataFrame, corpusIndex: DataFrame,
      corpusShingles: DataFrame, n: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 100,
      shingleBuckets: Int = 0): DataFrame = CacheScope.eager { cache =>
    // new-side signatures and verification sets from ONE aggregation
    // over the batch shingles (same fusion as minhashLshPairs)
    val newBase = cache.keep(shingleHashes(newDocs, n)
      .groupBy("id")
      .agg(signatureMins.head, (signatureMins.tail :+ collect_set(col("h")).as("hs")): _*))
    // the corpus-side twin of minhashLshPairs' band-bucket skew guard: a
    // pathological index bucket would multiply EVERY future batch's probe
    // fan-out, so cap corpus bucket membership before the band join (the
    // oracle replays the identical cap). At 100 TB the bucket counts are
    // a once-per-index aggregate a pipeline would persist alongside it —
    // pass maxBucket <= 0 with a [[capBandBuckets]]-pre-filtered index
    // to price exactly that deployment shape (pl_dedup_incr_fixed).
    val okIndex = capBandBuckets(corpusIndex, maxBucket)
    // consumed by two plan branches (pair join + corpus-set semi-join):
    // kept so the index probe — the expensive part — runs once
    val cand = cache.keep(bandRows(newBase).as("a")
      .join(okIndex.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
      .distinct())
    val newSets = newBase.select(col("id"), col("hs"))
    // PARTITION-PRUNED shingle read (r15): when the persisted shingle
    // table is hash-partitioned on `sb = pmod(xxhash64(id), shingleBuckets)`
    // (the [[lshBandIndex]]-companion layout a 100 TB pipeline writes
    // once), the candidate ids' buckets are collected — bounded by
    // min(shingleBuckets, |candidates|), i.e. by the BATCH, per this
    // operator's contract — and pushed as a PartitionFilter, so the
    // verify stage reads only the buckets holding candidates instead of
    // scanning the corpus-sized table (the measured 2×/decade residual
    // of the fixed-batch gate at sf10).
    val prunedShingles =
      if (shingleBuckets <= 0) corpusShingles
      else {
        val bs = cand
          .select(pmod(xxhash64(col("corpus_id")), lit(shingleBuckets.toLong))
            .as("sb"))
          .distinct().collect().map(_.getLong(0))
        // literal type MUST match the partition column's inferred type
        // (hive-style partition values read back as int): a Long literal
        // list coerces the int column through a CAST, and a cast around
        // a partition column silently defeats partition pruning — the
        // measured difference is a 4096-file corpus scan every probe
        val vals: Seq[Any] =
          corpusShingles.schema("sb").dataType match {
            case org.apache.spark.sql.types.IntegerType => bs.map(_.toInt).toSeq
            case _ => bs.toSeq
          }
        corpusShingles.filter(col("sb").isInCollection(vals)).drop("sb")
      }
    // corpus sets materialize only for candidate ids (semi-join first:
    // at scale candidates are a sliver of the corpus)
    val corpusSets = prunedShingles
      .join(cand.select(col("corpus_id").as("id")).distinct(), Seq("id"),
        "left_semi")
      .groupBy("id").agg(collect_set("h").as("hs"))
    cand
      .join(newSets.select(col("id").as("new_id"), col("hs").as("hs1")), "new_id")
      .join(corpusSets.select(col("id").as("corpus_id"), col("hs").as("hs2")),
        "corpus_id")
      .transform(withSetJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Connected components over near-dup pairs — turns pairwise matches
    * into dedup GROUPS: every doc gets `cid` = the smallest doc id
    * reachable through the pair graph (its cluster representative, i.e.
    * the doc to KEEP; drop rows where id != cid).
    *
    * Components are computed over the duplicate SUBGRAPH only: a node
    * with no edge can never change its label, so isolated docs — the
    * vast majority of a 100 TB corpus against a few % of duplicates —
    * join back once at the end with `cid = id` instead of riding every
    * round of the component computation. Cost scales with the pair
    * graph, not the corpus.
    *
    * The subgraph labeling itself is ADAPTIVE, the same way AQE picks a
    * broadcast join once it sees the real size: verified near-dup pairs
    * are orders of magnitude smaller than the corpus, so when the pair
    * count is under `driverEdgeCap` (default 4M ≈ 64 MB of longs — the
    * broadcast regime) a driver-side union-find labels the subgraph in
    * one bounded collect, and the labels return as a broadcastable
    * local relation: the whole operation costs ONE distributed pass
    * (the widening join) instead of a convergence loop of shuffles.
    * Above the cap it falls back to distributed hash-min label
    * propagation (see [[iterativeLabels]]), which never holds the graph
    * in one place.
    */
  def clusters(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int = 25, driverEdgeCap: Long = 4L << 20): DataFrame =
    CacheScope.eager { cache =>
      val labels = subgraphLabels(cache, pairs, maxIter, driverEdgeCap)
      // widen the subgraph labels back to the full node set (left join —
      // the label side is duplicate docs only, broadcast-sized in practice)
      nodes.select(col("id").cast("long").as("id"))
        .join(labels.withColumnRenamed("cid", "ecid"), Seq("id"), "left")
        .select(col("id"), coalesce(col("ecid"), col("id")).as("cid"))
    }

  /** `(id, cid)` for every node of the pair graph, driver union-find or
    * distributed hash-min depending on the pair count. The returned
    * frame is materialized and kept in `cache`. `pairs` should already
    * be persisted (every producer in this module returns it so) — the
    * sizing count is then free.
    */
  private def subgraphLabels(cache: CacheScope, pairs: DataFrame,
      maxIter: Int, driverEdgeCap: Long): DataFrame = CacheScope { local =>
    // the edge relation is consumed TWICE (size probe, then the
    // driver collect or the iterative propagation's edge build) —
    // kept so the detector chain upstream runs once, not twice
    // (pre-r14, an unpersisted chain like the simhash candidate join
    // re-ran in full under driverLabels' collect: pl_rand_index's
    // variance source). Edge frames are the duplicate subgraph only —
    // the broadcast-regime size this function already assumes.
    val p = local.keep(pairs)
    val n = p.count()
    if (n <= driverEdgeCap) driverLabels(cache, p) // collects eagerly
    else iterativeLabels(cache, p, maxIter) // keeps + materializes its own edges
  }

  /** Union-find over a collected edge list — the small-graph fast path.
    * Union-by-min (the smaller root adopts) + path compression keeps the
    * forest shallow and makes every root its component's minimum id, the
    * exact `cid` contract of [[clusters]].
    */
  private def driverLabels(cache: CacheScope, pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x // path compression
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    val labels = cache.keep(parent.keysIterator.map(id => (id, find(id))).toSeq
      .toDF("id", "cid"))
    labels.count()
    labels
  }

  /** Distributed hash-min label propagation — the above-cap path: each
    * round every node takes the min of its own label and its neighbors'
    * labels (a join + min-aggregation), converging in graph-diameter
    * rounds (near-dup clusters are shallow: duplicates of one source
    * form a star). This is the standard MapReduce connected-components
    * shape — each round is one shuffle on node id, no driver-side graph
    * state; labels are kept in `cache` per round and released after the
    * next materializes. `maxIter` bounds pathological chains; convergence
    * is detected via the strictly decreasing label sum.
    */
  private def iterativeLabels(cache: CacheScope, pairs: DataFrame,
      maxIter: Int): DataFrame = CacheScope { local =>
    val e = pairs.select(col("id1").cast("long").as("src"),
      col("id2").cast("long").as("dst"))
    val edges = local.keep(e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = cache.keep(edges.select(col("src").as("id")).distinct()
      .withColumn("cid", col("id")))
    // exact 38-digit sum: labels only decrease, so the sum strictly
    // decreases until the fixpoint — a Long sum would overflow for
    // md5-derived 60-bit ids and could fake convergence. Computed in the
    // SAME action that materializes the persisted frame, so each round
    // costs exactly one job (one pass over the labels).
    def materializeSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("cid").cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d // null = empty frame
    }
    var prevSum: java.math.BigDecimal = null
    var curSum = materializeSum(labels)
    var iter = 0
    while ((prevSum == null || curSum.compareTo(prevSum) < 0) && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cid").as("dcid")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dcid")).as("nmin"))
      val next = cache.keep(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cid"), coalesce(col("nmin"), col("cid"))).as("cid")))
      prevSum = curSum
      curSum = materializeSum(next) // materializes `next` + sums, one job
      cache.release(labels)
      labels = next
      iter += 1
    }
    labels
  }

  /** Collapse a corpus to cluster representatives: keep only docs whose
    * id is their cluster's minimum ([[clusters]] over `pairs`). The
    * end-to-end "dedup the corpus" operation — broadcast-joinable when
    * the duplicate set is small relative to the corpus (the usual case);
    * falls back to a shuffle join otherwise, both on the id key. The
    * result is lazy over a drop frame kept in the caller's `cache`, so
    * it reads correctly until that scope ends.
    */
  def collapse(cache: CacheScope, docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // the drop set lives entirely in the pair subgraph (an isolated doc
    // is always its own cluster minimum), so collapse never widens the
    // labels to the corpus — the only corpus-wide pass is the anti-join.
    // Materialize the SMALL side (drop ids, longs bounded by the pair
    // graph) and return the anti-join lazily: materializing the kept
    // frame would pin the whole text corpus in cache for no reason
    // (measured 4× on the sf0.1 bench)
    val drop = CacheScope { local =>
      val d = cache.keep(
        subgraphLabels(local, pairs, maxIter = 25, driverEdgeCap = 4L << 20)
          .filter(col("id") =!= col("cid"))
          .select(col("id")))
      d.count()
      d
    }
    // no broadcast hint: at 100 TB the drop set can be a large fraction
    // of the corpus (30-50% dup rates are normal) — let AQE pick
    // broadcast when the materialized size allows it
    docs.join(drop, docs(idCol).cast("long") === drop("id"), "left_anti")
  }

  /** SoftDeDup-direction duplicate REWEIGHTING: every member of a
    * near-dup cluster keeps weight `1/|cluster|` instead of the
    * non-representatives being dropped — total corpus mass per distinct
    * content stays exactly 1, and downstream samplers consume the weight
    * column. Isolated docs weigh 1.0. Weights are exact rationals of
    * small integers, so they cross engines bit-for-bit.
    * Output: (doc_id, csize, weight).
    */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = CacheScope.eager { cache =>
    // clusters() returns its labels frame persisted (node-count-sized);
    // kept so it is released once the weights materialize, rather than
    // pinning a corpus-sized cache entry for the session lifetime
    val labels = cache.keep(
      clusters(pairs, docs.select(col(idCol).cast("long").as("id"))))
    val sizes = labels.groupBy("cid").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "cid")
      .select(col("id").as(idCol), col("csize"),
        (lit(1.0) / col("csize")).as("weight"))
  }

  /** Benchmark decontamination: flag TRAIN documents that share any word
    * n-gram with the EVAL set (the test-set-leakage scrub every
    * pre-training pipeline runs before releasing a corpus). Returns
    * `(id, n_contaminated)` — one row per contaminated train doc with
    * its count of distinct leaked n-grams.
    *
    * 100 TB shape: eval sets are benchmarks — kilobytes against a
    * 100 TB corpus — so the distinct eval n-gram set is broadcast and
    * the train side joins without shuffling; the only exchange is the
    * per-doc count's map-side-combined aggregation.
    */
  /** Per-doc DISTINCT word n-gram rows `(id, g)` via one typed flatMap —
    * the declarative `explode(array_distinct(ngramsOf(...)))` chain
    * evaluates interpreted higher-order lambdas allocating per-gram
    * arrays (the shingleHashes lesson, here for gram STRINGS: measured
    * 4.5 s → 2.6 s on the sf1 decontam gate).
    */
  private[pipeline] def distinctGramRows(df: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        if (toks.length < n) Iterator.empty
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          val sb = new java.lang.StringBuilder
          var p = 0
          while (p <= toks.length - n) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(p + j)); j += 1
            }
            seen += sb.toString
            p += 1
          }
          seen.iterator.map(g => (id, g))
        }
      }
      .toDF("id", "g")
  }

  def decontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val evalGrams = distinctGramRows(evalSet, n, idCol, textCol)
      .select(col("g")).distinct()
    distinctGramRows(train, n, idCol, textCol)
      .join(broadcast(evalGrams), "g")
      .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
  }

  /** EVAL-side contamination report (the GPT-3-appendix "dirtiness"
    * audit): for each eval document, how many of its distinct `n`-grams
    * appear ANYWHERE in the train corpus, and the dirty fraction — the
    * view a benchmark owner reads before trusting a score, complementing
    * [[decontaminate]]'s train-side flags.
    *
    * Shape: the huge train gram stream never shuffles — it semi-joins the
    * BROADCAST eval gram set and only the matched distinct grams (≤ the
    * eval gram count by construction) reach an aggregation; everything
    * after is eval-sized.
    */
  def contaminationReport(train: DataFrame, evalSet: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    val evalGrams = cache.keep(distinctGramRows(evalSet, n, idCol, textCol))
    val evalGramSet = evalGrams.select(col("g")).distinct()
    val matched = distinctGramRows(train, n, idCol, textCol)
      .join(broadcast(evalGramSet), Seq("g"), "left_semi")
      .select(col("g")).distinct()
    evalGrams
      .join(matched.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_dirty"))
      .withColumn("dirty_frac",
        col("n_dirty").cast("double") / col("n_grams"))
  }

  /** Bloom-filter decontamination — the fixed-memory variant of
    * [[decontaminate]]: the eval n-gram set is folded into an `mBits`-bit
    * Bloom filter (`k` md5-derived hash positions per gram), and a train
    * gram is flagged iff ALL `k` of its positions are set. Flags are a
    * deterministic superset of the exact match set (Bloom filters have
    * no false negatives; false positives are deterministic given the
    * hash family, so the oracle replays them bit-for-bit).
    *
    * 100 TB shape: [[decontaminate]] broadcasts the eval gram strings —
    * fine for kilobyte benchmarks, but a 10⁸-gram eval suite would ship
    * gigabytes to every executor. Here the broadcast side is AT MOST
    * `mBits` distinct int positions (and in practice ≤ k·|eval grams|,
    * far fewer: the 2²² default is 512 KB as a real bitmap) regardless
    * of eval string size. Size `mBits` ≳ 10·k·|eval grams| to keep the
    * false-positive rate ≲ 1% — an UNDERSIZED filter stays correct
    * (superset semantics) but saturates: fill → 1 makes every train
    * gram a hit and the probe degenerates to all-grams work (the sf1
    * gate's ~190k eval grams saturate 2¹⁶ completely). Represented
    * relationally (a distinct position frame + semi-join) rather than
    * as a bitmap UDF so the probe stays codegen'd and
    * oracle-comparable.
    */
  def bloomDecontaminate(train: DataFrame, evalSet: DataFrame, n: Int = 4,
      mBits: Int = 1 << 22, k: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = CacheScope.eager { cache =>
    // per-doc distinct grams → the k Bloom positions, all inside ONE
    // typed flatMap (one MessageDigest, k digests per gram). The
    // declarative alternative — k × (concat ⊕ md5-hex ⊕ conv) Catalyst
    // chains per gram — allocates hex strings per position and measured
    // 4× this shape on the sf1 gate (4.5 s total here).
    def gramPositions(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val (nn, kk, mb) = (n, k, mBits.toLong)
      df.select(col(idCol).cast("long"), col(textCol))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          if (toks.length < nn) Iterator.empty
          else {
            val md = java.security.MessageDigest.getInstance("MD5")
            val seen = scala.collection.mutable.LinkedHashSet.empty[String]
            val sb = new java.lang.StringBuilder
            var p = 0
            while (p <= toks.length - nn) {
              sb.setLength(0)
              var j = 0
              while (j < nn) {
                if (j > 0) sb.append(' ')
                sb.append(toks(p + j)); j += 1
              }
              seen += sb.toString
              p += 1
            }
            seen.iterator.map { g =>
              val ps = new Array[Long](kk)
              var i = 0
              while (i < kk) {
                val d = md.digest((g + "#" + i).getBytes("UTF-8"))
                var h = 0L
                var b = 0
                while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
                ps(i) = java.lang.Long.remainderUnsigned(h >>> 4, mb)
                i += 1
              }
              (id, ps)
            }
          }
        }
        .toDF("id", "ps")
    }
    // eval-sized and probed by all k joins — kept so the eval hashing
    // runs once
    val bits = cache.keep(gramPositions(evalSet)
      .select(explode(col("ps")).as("pos"))
      .distinct())
    // a gram is flagged iff ALL k positions are set — k chained
    // broadcast LEFT SEMI joins, one per hash row, so the train side
    // never shuffles (an explode + groupBy(id, gram) formulation
    // shuffles every probe row keyed by the gram STRING); the only
    // exchange is the final map-side-combined per-doc count
    val probed = (0 until k).foldLeft(
      gramPositions(train)
        .select(col("id") +: (0 until k).map(i =>
          col("ps")(i).as(s"p$i")): _*)) { (cur, i) =>
      cur.join(broadcast(bits.select(col("pos").as(s"p$i"))),
        Seq(s"p$i"), "left_semi")
    }
    probed.groupBy("id").agg(count(lit(1)).as("n_flagged"))
  }

  /** SimHash of the token multiset: bit b of the result is the sign of
    * `Σ_tokens (2·bit_b(md5hash60(tok)) − 1)`.
    *
    * Every token of a document lives in that document's own row, so the
    * whole vote tally is per-row math: ONE typed map accumulates the
    * nBits vote counters in a local array and emits (id, simhash) with
    * zero exchanges — the explode + nBits-sum-aggregate formulation
    * shuffles a row per token and carries 60 agg buffers per group
    * (measured 2× the gate's cost at sf0.1). Embarrassingly parallel at
    * any scale.
    */
  def simhash(docs: DataFrame, nBits: Int = 60,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        // one JVM md5 per token (oracle-shared 60-bit hash), multiset kept
        val md = java.security.MessageDigest.getInstance("MD5")
        val votes = new Array[Int](nBits)
        text.split(" ", -1).foreach { t =>
          val d = md.digest(t.getBytes("UTF-8"))
          var h = 0L
          var k = 0
          while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
          h = h >>> 4
          var b = 0
          while (b < nBits) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var sim = 0L
        var b = 0
        while (b < nBits) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
        (id, sim)
      }
      .toDF("id", "simhash")
  }

  /** Near-dup pairs with Hamming distance ≤ `maxHamming` over `nBits`
    * SimHash. Default scale path: split the hash into maxHamming+1
    * chunks — by pigeonhole, any pair within the radius shares at
    * least one chunk — and join on (chunk_id, chunk_value) buckets.
    *
    * Chunk width is the candidate lever: an 8-bit chunk has 256 values,
    * so a corpus whose sign bits correlate (shared topic vocabulary makes
    * whole bit ranges move together — measured 2.7M candidate pairs from
    * 5k docs at 32 bits) floods the buckets; 15-bit chunks (nBits=60,
    * the full md5-60 budget) disperse the same corpus to ~0.28M. Pass the
    * widest hash the downstream precision budget allows.
    *
    * `blocks` > maxHamming+1 (dividing nBits) opts into the
    * block-COMBINATION multi-index instead — the table form of Manku,
    * Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling"
    * (WWW 2007): a pair within radius r matches at least blocks−r
    * blocks exactly, so every C(blocks, blocks−r) block choice keys a
    * table on the concatenated chosen blocks. blocks=6 at r=3 matches
    * 30 bits per table instead of 15 and cut the candidate mass 12.5×
    * on the r16 A/B (63.7M → 5.1M at 500k docs) — but it LOST wall-
    * clock at every measured scale (sf1 3.4 → 3.5 s, sf10 8.1 → 12.9 s
    * uncapped; the capped variant's 20n-row bucket-guard aggregate is
    * worse still), because 60M codegen'd bit_count+filter candidates
    * are cheaper than the 5× larger index shuffle. It stays as the
    * documented web-scale lever: pigeonhole candidates grow n²/2^15
    * (quadratic, ~6.4B at 5M docs) while the combo index stays 20n +
    * near-output-bound — the crossover sits around ~5M docs, far above
    * every gated fixture but squarely inside 100 TB territory. Both
    * schemes are lossless at the radius (SCALING.md "r16 follow-ups").
    *
    * `maxBucket` is the chunk-bucket twin of [[minhashLshPairs]]'
    * band-bucket skew guard: a (chunk, value) bucket with B members
    * contributes B²/2 candidate pairs, so buckets above the cap are
    * dropped wholesale before the self-join (oracle SQL replays the
    * identical cap); ≤ 0 disables. Default sits >3× over the largest
    * bucket observed on the test corpus at 60 bits (269), so it guards
    * without biting at gate scale; at sf10 it starts to bite (6.3k of
    * 211k true pairs dropped with their over-cap buckets) — the
    * documented recall price of the skew fuse.
    */
  def simhashPairs(docs: DataFrame, nBits: Int = 60, maxHamming: Int = 3,
      maxBucket: Int = 1000, blocks: Int = 0): DataFrame = {
    // an invalid opt-in must fail loudly, not silently take the
    // pigeonhole path: at the multi-million-doc scale the lever exists
    // for, the quadratic fallback is a multi-order-of-magnitude cliff
    require(blocks == 0 ||
      (blocks > maxHamming + 1 && nBits % blocks == 0),
      s"blocks=$blocks must be 0 (pigeonhole) or a divisor of " +
        s"nBits=$nBits greater than maxHamming+1=${maxHamming + 1}")
    CacheScope.eager { cache =>
      // one row per doc — tiny next to the token flatMap + nBits-vote
      // aggregation that builds it; kept so the chunk self-join's two
      // branches don't each re-run that pipeline (minhashLshPairs keeps
      // its base for exactly the same reason)
      val sh = cache.keep(simhash(docs, nBits))
      val keyed =
        if (blocks != 0)
          simhashComboKeyed(sh, nBits, blocks, blocks - maxHamming)
        else simhashChunked(sh, nBits, maxHamming + 1)
      pairsFromKeyed(keyed, maxHamming, maxBucket)
    }
  }

  /** Lexicographic block combinations for [[simhashPairs]]' multi-index:
    * (combo id, chosen block indices). ONE definition parameterizes both
    * the Spark explode and the DuckDB oracle's VALUES table, so the
    * (combo, key) bucket structure — and with it the `maxBucket` cap —
    * is bit-identical across engines.
    */
  def simhashCombos(blocks: Int, matchBlocks: Int): Seq[(Int, Seq[Int])] =
    (0 until blocks).combinations(matchBlocks).toSeq.zipWithIndex
      .map { case (bs, i) => (i, bs.toSeq) }

  /** (id, simhash) → one row per block combination: (id, simhash, c, v)
    * with v = the matchBlocks chosen block values packed low-to-high in
    * combo order (matchBlocks · width ≤ 63 bits by construction).
    */
  private def simhashComboKeyed(sh: DataFrame, nBits: Int, blocks: Int,
      matchBlocks: Int): DataFrame = {
    val width = nBits / blocks
    val mask = (1L << width) - 1
    val structs = simhashCombos(blocks, matchBlocks).map { case (ci, bs) =>
      struct(
        lit(ci).as("c"),
        bs.zipWithIndex.map { case (b, j) =>
          shiftleft(
            shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)),
            j * width)
        }.reduce(_ + _).as("v"))
    }
    sh.select(col("id"), col("simhash"),
        explode(array(structs: _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.c"), col("ck.v"))
  }

  /** (id, simhash) → one row per pigeonhole chunk: (id, simhash, c, v). */
  private def simhashChunked(sh: DataFrame, nBits: Int,
      chunks: Int): DataFrame = {
    val width = nBits / chunks
    sh.select(
      col("id"), col("simhash"),
      explode(array((0 until chunks).map(c =>
        struct(
          lit(c).as("c"),
          shiftright(col("simhash"), c * width)
            .bitwiseAND((1L << width) - 1).as("v"))): _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.c"), col("ck.v"))
  }

  /** Bucket-guarded candidate self-join + radius filter over any keyed
    * (id, simhash, c, v) index relation (lazy; callers materialize).
    */
  private def pairsFromKeyed(chunked0: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    // bucket-size guard: semi-join on the same (c, v) key the candidate
    // join shuffles on, so it rides the exchange that join needs anyway
    val chunkedG =
      if (maxBucket <= 0) chunked0
      else chunked0.join(
        chunked0.groupBy("c", "v").agg(count(lit(1)).as("_bc"))
          .filter(col("_bc") <= maxBucket).drop("_bc"),
        Seq("c", "v"), "left_semi")
    // NO pinned repartition here, by measurement: the candidate join's
    // output is a multiplicative expansion AQE's input-byte model can't
    // see, but forcing a numbered repartition on (c, v) bought nothing
    // at sf10 (12.7 s vs 11.9) while DOUBLING the fixed-radius gates at
    // sf0.1 (pl_dedup_simhash 0.57 → 1.21 s) — bit_count+filter per
    // candidate is cheap enough that the coalesced join stage keeps up;
    // the expensive per-candidate work (Levenshtein) lives in
    // [[editVerify]], which pins its own DP stage.
    chunkedG.as("a")
      .join(chunkedG.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // radius filter BEFORE the dedup exchange: most candidates fail it,
      // so the distinct shuffles only the survivors
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs with a MEASURED candidates-per-doc probe
    * choosing the verification radius — the 100 TB knob for the
    * fixed-radius [[simhashPairs]].
    *
    * At a fixed 60-bit budget the chunk width is 60/(maxHamming+1), so
    * the chunk-bucket collision mass — and with it the exact-verify
    * stage downstream (Levenshtein DP in `pl_neardup_edit`) — grows
    * ~n²/2^width: birthday-rate, measured 17.4× verified pairs on 10×
    * docs at radius 3 (SCALING.md). Production near-dup pipelines
    * tighten the Hamming radius as the corpus grows for exactly this
    * reason; this operator derives the choice from the DATA instead of
    * a config constant:
    *
    *   for chunks c in 4, 3: candidate mass Σ_buckets C(B,2) over the
    *   c-way chunking (one hash-agg over the persisted (id, simhash)
    *   relation — no join); pick the first c with mass ≤ budget·n,
    *   else c = 2. maxHamming = c − 1, lossless at that radius by
    *   pigeonhole.
    *
    * All-integer (counts and C(B,2) on longs), so a SQL oracle replays
    * the identical choice via scalar subqueries — same contract as the
    * floor(sqrt(n)) IVF/SemDeDup sizing. The probe prices the ACTUAL
    * corpus correlation (topic-correlated sign bits measured 56
    * candidates/doc on the 5k-doc test corpus where the random-collision
    * model predicts 0.6), which is why it measures instead of deriving
    * from n alone. The recall cost of a tightened radius is priced by
    * `pl_neardup_eval` at each scale.
    */
  def simhashPairsAuto(docs: DataFrame, nBits: Int = 60,
      maxBucket: Int = 1000, budgetPerDoc: Long = 64): DataFrame = CacheScope.eager { cache =>
    val sh = cache.keep(simhash(docs, nBits))
    val n = sh.count()
    // Σ C(bucket,2) at a c-way chunking: exact candidate count before
    // the radius filter (and before the maxBucket guard — the probe
    // prices true density; the cap stays as the final skew fuse)
    def candMass(chunks: Int): Long =
      simhashChunked(sh, nBits, chunks)
        .groupBy("c", "v").agg(count(lit(1)).as("b"))
        .agg(coalesce(sum(pairsOf(col("b"))), lit(0L)).as("m"))
        .head().getLong(0)
    val budget = budgetPerDoc * n
    val chunks =
      if (candMass(4) <= budget) 4
      else if (candMass(3) <= budget) 3
      else 2
    // exactly the pigeonhole chunk index the probe priced (this
    // operator's scale lever is the radius, not simhashPairs'
    // combinatorial index). The chosen radius rides along so a gate can
    // pin the CHOICE itself (pl_dedup_simhash_auto), not just the pair
    // set it induces
    pairsFromKeyed(simhashChunked(sh, nBits, chunks),
        maxHamming = chunks - 1, maxBucket)
      .withColumn("radius", lit(chunks - 1).cast("long"))
  }

  /** Adjusted Rand index between the cluster labelings induced by two
    * near-dup pair relations — "do the cheap detector's clusters agree
    * with the expensive detector's" as ONE number, chance-corrected
    * (ARI = 0 for random agreement, 1 for identical partitions). The
    * contingency table is one join on the doc id + one hash agg; every
    * pair count (Σ C(nij,2) and the margins) is an exact integer, the
    * expectation/normalization is a final fixed-shape float read.
    * Output: one row (n, sum_ij, sum_a, sum_b, ari).
    */
  /** Exact C(c,2) on longs: the product c·(c−1) is even and
    * non-negative, so shiftright-by-1 is an exact /2 with no IEEE
    * round-trip (a double division diverges from the oracle's integer
    * `//2` past 2^53 ≈ 9.4e7-doc clusters; this form is exact up to
    * c ≈ 3.04e9, where the product itself overflows int64).
    */
  private[graft] def pairsOf(c: Column): Column =
    shiftright(c.cast("long") * (c.cast("long") - 1), 1)

  def clusterAgreement(docs: DataFrame, pairs1: DataFrame,
      pairs2: DataFrame, idCol: String = "doc_id"): DataFrame = CacheScope.eager { cache =>
    val nodes = docs.select(col(idCol).cast("long").as("id"))
    // the two clusterings are independent eager chains — overlap them
    // (guide §2.6): each is a size probe + union-find/propagation whose
    // straggler tail the other side's jobs back-fill. Each side's labels
    // are kept as soon as they exist, so a failure on the other side
    // still releases them
    val (c1, c2) = inParallel(
      cache.keep(clusters(pairs1, nodes)), cache.keep(clusters(pairs2, nodes)))
    val ct = cache.keep(c1.withColumnRenamed("cid", "c1")
      .join(c2.withColumnRenamed("cid", "c2"), "id").groupBy("c1", "c2")
      .agg(count(lit(1)).as("nij")))
    val sij = ct.agg(sum(pairsOf(col("nij"))).as("sum_ij"),
      sum(col("nij")).as("n"))
    val sa = ct.groupBy("c1").agg(sum(col("nij")).as("ai"))
      .agg(sum(pairsOf(col("ai"))).as("sum_a"))
    val sb = ct.groupBy("c2").agg(sum(col("nij")).as("bj"))
      .agg(sum(pairsOf(col("bj"))).as("sum_b"))
    val j = sij.crossJoin(sa).crossJoin(sb)
      .withColumn("tot", pairsOf(col("n")))
    val expE = col("sum_a").cast("double") * col("sum_b").cast("double") /
      col("tot").cast("double")
    val den = (col("sum_a") + col("sum_b")).cast("double") / 2.0 - expE
    j.select(col("n"), col("sum_ij"), col("sum_a"), col("sum_b"),
      when(den === 0.0, lit(1.0))
        .otherwise((col("sum_ij").cast("double") - expE) / den).as("ari"))
  }

  /** Exact edit-distance VERIFICATION of a candidate near-dup pair
    * relation — the confirm stage after a cheap signature pass
    * (SimHash/MinHash bands): `levenshtein` on the two texts, and a
    * length-normalized similarity `((maxlen − lev)·10000) div maxlen`
    * per-10k. All outputs are exact integers (Levenshtein is
    * cross-engine deterministic), so the gate crosses engines without
    * any float rule.
    *
    * Scale shape: the O(len²) DP runs ONLY on candidate pairs — the
    * signature pass's bucket caps bound how many there are — via two
    * joins that reattach the texts (AQE broadcasts the pair side while
    * it fits; a corpus-scale pair set shuffles on the id key).
    * Keeping `minSimPm` at 0 returns every candidate with its score
    * (detector-evaluation mode); a production dedup sets ~8000.
    */
  def editVerify(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minSimPm: Long = 0L): DataFrame = {
    val t1 = docs.select(col(idCol).cast("long").as("id1"), col(textCol).as("t1_"))
    val t2 = docs.select(col(idCol).cast("long").as("id2"), col(textCol).as("t2_"))
    // pin the DP stage's parallelism with a NUMBERED repartition (AQE
    // never coalesces REPARTITION_BY_NUM): the joined pair-text relation
    // is small in BYTES but each row carries an O(len²) Levenshtein, so
    // byte-targeted partition coalescing (advisory 64MB) folds ~minutes
    // of DP CPU onto 2-8 tasks — measured 115 s vs 13 s at sf10 for the
    // identical plan, the whole gap being this stage's task count. The
    // extra round-robin exchange moves only the verified candidates
    // (bounded by the signature pass) and perfectly balances the DP.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val scored = pairs.join(t1, "id1").join(t2, "id2")
      .repartition(par)
      .withColumn("lev", levenshtein(col("t1_"), col("t2_")).cast("long"))
      .withColumn("maxlen",
        greatest(length(col("t1_")), length(col("t2_"))).cast("long"))
      .filter(col("maxlen") > 0)
      .select(col("id1"), col("id2"), col("lev"),
        expr("((maxlen - lev) * 10000) div maxlen").as("sim_pm"))
    // the sim_pm filter only when it BITES: at minSimPm = 0 it is a
    // tautology (0 ≤ lev ≤ maxlen ⇒ sim_pm ≥ 0), but Catalyst still
    // pushes it through the repartition INTO the join condition —
    // putting a second levenshtein evaluation inside the SMJ stage,
    // whose AQE byte-coalesced reader runs ~2 tasks (sf10: 110 s of the
    // gate's 118; with the filter skipped the DP runs once, above the
    // pinned 32-way repartition)
    if (minSimPm <= 0L) scored else scored.filter(col("sim_pm") >= minSimPm)
  }
}
