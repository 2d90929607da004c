package graft

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{quant4, round4}
import graft.pipeline.{Dedup, FilterChain, Layout, Multimodal, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries + DuckDB oracles for the training-data pipeline operators
  * (dedup, similarity search, multimodal columns, text analysis) over the
  * driver's `documents` and `embeddings` tables.
  */
object PipelineQueries {
  import SparkEntry.{quantSql, sroundSql}

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** √n sizing for the coarse structures the IVF / SemDeDup gates build
    * (centroid subsample step, kmeans k): max(floorAt, ⌊√n⌋). A CONSTANT
    * here makes centroid count ∝ n and assignment work ∝ n² — the r13
    * sf10 rehearsal measured the fixed-16 gate at 59× on 10× data; √n is
    * the IVF working point (the ivfIndex contract). floor(sqrt) over an
    * exact integer count is IEEE-identical in Spark and DuckDB, so the
    * oracle replays the choice with
    * `greatest(f, CAST(floor(sqrt(count(*))) AS BIGINT))`.
    */
  private def sqrtSized(e: DataFrame, floorAt: Long): Int =
    math.max(floorAt, math.floor(math.sqrt(e.count().toDouble)).toLong).toInt

  /** 60-bit md5 hash shared with Spark's GraftFunctions.md5Hash60. */
  private def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** One per-process scratch root for the pl_ivf_index round-trip,
    * reused across warmup + timed reruns (writes are mode=overwrite) and
    * reclaimed at exit — tmpfs preferred so the gate prices the
    * persistence machinery, not disk ([[GateScratch]]).
    */
  private lazy val ivfGateRoot: String = GateScratch.root("graft_ivf_gate")

  /** Memoized per source dir: the fixed-batch incremental-dedup gate
    * times the BATCH PROBE against a PERSISTED index — the operator's
    * actual contract (cost ∝ batch, never corpus). The corpus-side work
    * a deployment amortizes across every batch — shingling, band
    * signatures, and the once-per-index bucket-cap aggregate — runs
    * once here and lands on parquet, exactly the two tables
    * [[graft.pipeline.Dedup.incrementalNearDups]] documents as the
    * persisted state. pl_dedup_incr (uncached, corpus-growing batch)
    * keeps pricing the index BUILD path.
    *
    * The index is written PRUNABLE (r15): the band table partitioned by
    * `band`, and the shingle table hash-partitioned into `sb` buckets
    * sized ~corpus/64 docs each — the probe's verification then reads
    * only the buckets holding candidate ids (a PartitionFilter on the
    * scan) instead of the whole corpus-sized table, which was the
    * measured 2×/decade residual at sf10 (SCALING.md). The memo holds
    * the RESOLVED DataFrames, not just paths: re-resolving a
    * many-partition layout re-lists every bucket directory on each
    * probe, and in a deployment that metadata lives in the catalog —
    * batches prune against cached partition metadata, they don't
    * re-discover the table. Returns (bandDf, shingleDf, shingleBuckets).
    *
    * Two memo layers because they have different lifetimes: the WRITTEN
    * index (paths + bucket count) is per source dir — build once per
    * JVM — while a resolved `DataFrame` is bound to the `SparkSession`
    * that resolved it, so frames memoize per (session, dir). A single
    * dir-keyed frame memo handed a second, fresh session frames
    * referencing a stopped one (the stale-state class that zeroed a
    * gate in an earlier round). Session keys are reference-identity;
    * the map retains at most one tuple per session ever opened in the
    * JVM — bounded and tiny for every real caller.
    */
  private[graft] val incrIndexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, Int)]
  private[graft] val incrIndexFrames =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame, Int)]
  private val incrIndexSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def incrIndexFixture(s: SparkSession, dir: String): (DataFrame, DataFrame, Int) = {
    // evict tuples whose session has been stopped: without this a
    // session-per-batch driver pins one dead session (and its whole
    // session state, reachable through the memoized frames) per batch
    // for the JVM's lifetime
    incrIndexFrames.keySet.removeIf { case (sess, _) =>
      sess.sparkContext.isStopped
    }
    incrIndexFrames.computeIfAbsent((s, dir), _ => {
      val (bandP, shP, nBuckets) = incrIndexPaths.computeIfAbsent(dir, _ => {
        val corpus = docs(s, dir).select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 5 =!= 0)
        // per-JVM sequence, not a dir-string hash: two source dirs with
        // colliding 32-bit hashes would silently share (and overwrite)
        // one index path while the memo cache kept them distinct
        val sub = incrIndexSeq.incrementAndGet().toString
        val bandPath = s"$ivfGateRoot/incr_band_$sub"
        val shPath = s"$ivfGateRoot/incr_sh_$sub"
        // ~64 docs' shingles per bucket, power of two: sf0.1 → 32
        // buckets, sf10 → 4096 — bucket count grows with the corpus so
        // a FIXED batch's candidate set touches an ever-smaller
        // fraction of it
        val nb = math.max(8, java.lang.Integer.highestOneBit(
          math.min(corpus.count() / 64, 1 << 16).toInt.max(1)))
        Dedup.capBandBuckets(Dedup.lshBandIndex(corpus), maxBucket = 100)
          // hash-repartition on the partition column: the
          // dynamic-partition writer otherwise sorts the whole index in
          // however many tasks AQE coalesced to (measured: ONE 15 s
          // task at sf10)
          .repartition(col("band"))
          .write.mode("overwrite").partitionBy("band").parquet(bandPath)
        Dedup.shingleHashes(corpus).select("id", "h")
          .withColumn("sb", pmod(xxhash64(col("id")), lit(nb.toLong)))
          // one file per bucket dir: hash-repartition on the partition
          // column so no task writes to more than its own buckets
          .repartition(math.min(nb, 64), col("sb"))
          .write.mode("overwrite").partitionBy("sb").parquet(shPath)
        (bandPath, shPath, nb)
      })
      // resolve once PER SESSION, driver-side: above 32 dirs Spark
      // otherwise lists partitions via a one-task-per-directory cluster
      // job — measured 10.3 s for the 4096-dir layout on tmpfs vs
      // 0.85 s listed on the driver. On a real cluster against an
      // object store the parallel listing is right, hence a scoped
      // conf, not a session default.
      val tKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      val prevT = s.conf.get(tKey, "32")
      s.conf.set(tKey, "65536")
      try (s.read.parquet(bandP), s.read.parquet(shP), nBuckets)
      finally s.conf.set(tKey, prevT)
    })
  }



  /** Inline fixture for [[gates]]' `pl_strip_html` — shared with its
    * oracle so gate and oracle can never drift.
    */
  private val HtmlFixture: Seq[(Long, String)] = Seq(
    1L -> ("<html><head><style>p {color: red}</style></head><body>" +
      "<p>Hello <b>world</b></p><script>var x = \"<p>\";</script>" +
      " Tom &amp; Jerry &lt;3 &quot;quotes&quot; &#39;s and &amp;lt;raw" +
      "</body></html>"),
    2L -> "plain text stays as-is",
    3L -> "<div>multi\nline<br/>doc</div>")

  /** Inline subword vocabulary for [[gates]]' `pl_wordpiece` — shared
    * with its oracle so gate and oracle can never drift. Single-letter
    * starts and continuations guarantee the lowercase corpus tokenizes
    * fully; the multi-char pieces force real greedy longest-match
    * decisions; 'q' is deliberately absent as a word start so q-words
    * exercise the [UNK] path.
    */
  private[graft] val WordpieceVocab: Seq[String] =
    ('a' to 'z').filterNot(_ == 'q').map(_.toString) ++
      ('a' to 'z').map(c => s"##$c") ++
      Seq("sc", "tab", "val", "wind", "cust", "str", "fast", "the", "fi",
        "##an", "##ble", "##ue", "##ow", "##le", "##omer", "##eam",
        "##ast", "##lter", "##er", "##ing")

  /** Inline scored vocabulary for [[gates]]' `pl_unigram_encode` —
    * multi-char pieces only (every single character is an implicit
    * piece, so any word segments); all 2–4 chars (`maxLen` 4). Chosen to
    * cover the synthetic corpus's head words with OVERLAPPING options
    * ("cust"+"omer" vs "c"+"ust"+…, "wind"+"ow" vs "win"+"dow") so the
    * Viterbi argmax does real work. Scores derive from each piece's own
    * md5 (see TextAnalysis.unigramEncode), so gate and oracle can never
    * drift.
    */
  private[graft] val UnigramVocab: Seq[String] = Seq(
    "join", "hash", "row", "scan", "cust", "omer", "ust", "colu", "umn",
    "filt", "er", "ter", "all", "mer", "ge", "slow", "ord", "vec", "tor",
    "line", "data", "tab", "le", "agg", "val", "ue", "key", "str", "eam",
    "wind", "ow", "win", "dow", "grou", "up", "part", "ba", "tch", "spa",
    "rk", "sm")

  /** Merge-rule count for the BPE gates — small enough that the unrolled
    * oracle stays a readable ~65-CTE query, large enough that the learned
    * rules include multi-step compositions (the sf corpus yields e.g.
    * jo+in→join and h+ash→hash inside 16 ranks).
    */
  private[graft] val BpeMergeCount = 16

  /** Unrolled BPE training chain shared by the `pl_bpe_train` and
    * `pl_bpe` oracles: one (pairs → weighted counts → argmax → merge)
    * CTE stage per rank, generated by a loop. Words travel as
    * `<sym><sym>…` bracketed strings so a merge is a plain non-overlapping
    * left-to-right `replace` — the exact contract of
    * [[graft.pipeline.TextAnalysis.bpeMergePair]]. Stages that are
    * referenced twice are MATERIALIZED: DuckDB inlines CTEs by default,
    * which would expand the plan to 2^N copies of the base scan.
    */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),\n"
    sb ++= "w0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f, " +
      "regexp_replace(w, '(.)', '<\\1>', 'g') AS s FROM words WHERE w != '' GROUP BY w)"
    for (k <- 1 to n) {
      sb ++= s""",
p$k AS (SELECT f, unnest(l[1:len(l)-1]) AS a, unnest(l[2:len(l)]) AS b FROM (SELECT f, regexp_extract_all(s, '<([^>]*)>', 1) AS l FROM w${k - 1})),
c$k AS (SELECT a, b, sum(f) AS cnt FROM p$k GROUP BY a, b),
b$k AS MATERIALIZED (SELECT a, b FROM c$k ORDER BY cnt DESC, a, b LIMIT 1),
w$k AS MATERIALIZED (SELECT w.w, w.f, replace(w.s, '<'||b.a||'><'||b.b||'>', '<'||b.a||b.b||'>') AS s FROM w${k - 1} w CROSS JOIN b$k b)"""
    }
    sb.result()
  }

  /** Inline fixture for [[gates]]' `pl_url_hosts` — shared with its
    * oracle so gate and oracle can never drift.
    */
  private val UrlFixture: Seq[(Long, String)] = Seq(
    1L -> "see https://www.Example.com/a?x=1 then http://foo.org/path deep",
    2L -> "dup https://example.com/b plus https://Bar.net/z and http://foo.org",
    3L -> "no urls in this document at all",
    4L -> "tail ref http://www.foo.org ends here")

  // ------------------------------------------------------------- oracles

  private def tokCteOn(rel: String) =
    s"tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM $rel)"
  private val tokCte = tokCteOn("documents")

  /** Distinct 3-gram shingles per doc (mirror of Dedup.shingles n=3),
    * parameterized on the doc relation so composed oracles (e2e
    * curation) can run the same chain over a survivor CTE.
    */
  private def shingleCteOn(rel: String) =
    s"""${tokCteOn(rel)},
       |sh AS (
       |  SELECT DISTINCT doc_id AS id, s FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(w) - 1),
       |                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |    FROM tok))""".stripMargin
  private val shingleCte = shingleCteOn("documents")

  /** Exact-jaccard pair CTEs over relation `rel(id, s)` (→ relation
    * `pairs(id1,id2,jac)`).
    */
  private def jaccardCtes(rel: String = "sh") =
    s"""cnt AS (SELECT id, count(*) AS n FROM $rel GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS i
       |  FROM $rel a JOIN $rel b ON a.s = b.s AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |pairs AS (
       |  SELECT id1, id2, i / (c1.n + c2.n - i) AS jac
       |  FROM inter
       |  JOIN cnt c1 ON id1 = c1.id
       |  JOIN cnt c2 ON id2 = c2.id)""".stripMargin

  /** The `maxDocFreq` skew guard's oracle twin: shingles kept iff their
    * document frequency is ≤ cap (mirror of Dedup.ngramJaccardPairs'
    * left_anti against hot shingles).
    */
  private def cappedShingleCte(cap: Int) =
    s"""shf AS (
       |  SELECT sh.id, sh.s FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap) keep
       |  USING (s))""".stripMargin

  private def stopIn(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")

  private val langScores = TextAnalysis.langProfiles.map { case (lang, ws) =>
    s"len(list_filter(w, t -> t IN (${stopIn(ws)}))) AS s_$lang"
  }.mkString(",\n  ")

  private val langBest = TextAnalysis.langProfiles.map(p => s"s_${p._1}").mkString(", ")

  private val langCase = TextAnalysis.langProfiles
    .map { case (lang, _) => s"WHEN s_$lang = best AND best > 0 THEN '$lang'" }
    .mkString("\n  ")

  // Longest same-token run via gaps-and-islands over relation
  // `src(doc_id, w)` → relation `mr(doc_id, max_run)`. Deliberately
  // lambda-free: DuckDB 1.0.0's list_reduce leaks accumulator state
  // across rows when vectorized over a table (correct on literals,
  // wrong over a scan), so the oracle must not use it.
  private def maxRunCtes(src: String): String =
    s"""ex AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM $src),
       |ex2 AS (SELECT doc_id, i, w[i] AS tok FROM ex),
       |isl AS (
       |  SELECT doc_id, tok,
       |         i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
       |  FROM ex2),
       |mr AS (
       |  SELECT doc_id, max(c) AS max_run FROM (
       |    SELECT doc_id, count(*) AS c FROM isl GROUP BY doc_id, tok, grp)
       |  GROUP BY doc_id)""".stripMargin

  private val dupFracSql = "1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE)"

  private val stop10 = stopIn(Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))

  private val qualitySql =
    s"""least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
       | + least(len(list_filter(w, t -> t IN ($stop10))) / CAST(len(w) AS DOUBLE) * 5.0, 1.0) * 0.3
       | + (1.0 - least((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g'))) / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2""".stripMargin

  // frozen LR quality classifier: weights interpolated from the Scala
  // constants so model and oracle can never drift
  private val lrW = TextAnalysis.QualityLrWeights.toMap

  // shared LR σ(w·x+b) expression over (text, w) — weights interpolated
  // from the Scala constants (single line: nesting stripMargin blocks
  // re-strips continuation lines, see the verify-skill note)
  private val lrScoreSql =
    s"1.0 / (1.0 + exp(-(${TextAnalysis.QualityLrBias} " +
      s"+ least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * ${lrW("ntok_norm")} " +
      s"+ (len(list_filter(w, t -> t IN ($stop10))) / CAST(len(w) AS DOUBLE)) * ${lrW("stopword_ratio")} " +
      s"+ ((length(text) - length(regexp_replace(text, '[.,!?;:''\"]', '', 'g'))) / CAST(length(text) AS DOUBLE)) * ${lrW("punct_ratio")} " +
      s"+ (1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE)) * ${lrW("dup_token_frac")} " +
      s"+ least((length(text) - (len(w) - 1)) / (CAST(len(w) AS DOUBLE) * 8.0), 1.0) * ${lrW("avg_word_len_norm")})))"

  private val sigCols = Dedup.MinhashA.zip(Dedup.MinhashB).zipWithIndex.map {
    case ((a, b), i) => s"min(($a * h + $b) % ${Dedup.MinhashP}) AS m$i"
  }.mkString(",\n    ")

  // band rows + the bucket-size skew guard (Dedup.minhashLshPairs'
  // maxBucket, default 100) — the oracle replays the identical cap so
  // the guarded candidate set is hash-checked. MATERIALIZED: `bands` is
  // read three times; DuckDB would otherwise inline the whole shingle→
  // signature pipeline into each reference.
  private val bandCandCtes =
    s"""bands AS MATERIALIZED (
       |  SELECT id, 0 AS band, m0 AS x, m1 AS y FROM sig
       |  UNION ALL SELECT id, 1, m2, m3 FROM sig
       |  UNION ALL SELECT id, 2, m4, m5 FROM sig
       |  UNION ALL SELECT id, 3, m6, m7 FROM sig),
       |okb AS (
       |  SELECT band, x, y FROM bands GROUP BY band, x, y
       |  HAVING count(*) <= 100),
       |cand AS (
       |  SELECT DISTINCT a.id AS id1, b.id AS id2
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |    AND a.id < b.id
       |  JOIN okb o ON a.band = o.band AND a.x = o.x AND a.y = o.y)""".stripMargin

  // incremental dedup: replay corpus/fresh construction, minhash both
  // sides, band-join fresh signatures against the corpus index, verify
  // candidates by exact shingle jaccard
  private val shingleOf = (rel: String, out: String) =>
    s"""$out AS (
       |  SELECT DISTINCT doc_id AS id, s FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $rel)))""".stripMargin

  private val dedupIncr =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
       |fresh AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 50000 AS doc_id, text FROM documents
       |  WHERE doc_id % 5 != 0 AND doc_id % 7 = 1),
       |${shingleOf("corpus", "csh")},
       |${shingleOf("fresh", "nsh")},
       |chs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM csh),
       |nhs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM nsh),
       |csig AS (
       |  SELECT id,
       |    $sigCols
       |  FROM chs GROUP BY id),
       |nsig AS (
       |  SELECT id,
       |    $sigCols
       |  FROM nhs GROUP BY id),
       |cbands AS MATERIALIZED (
       |  SELECT id, 0 AS band, m0 AS x, m1 AS y FROM csig
       |  UNION ALL SELECT id, 1, m2, m3 FROM csig
       |  UNION ALL SELECT id, 2, m4, m5 FROM csig
       |  UNION ALL SELECT id, 3, m6, m7 FROM csig),
       |nbands AS (
       |  SELECT id, 0 AS band, m0 AS x, m1 AS y FROM nsig
       |  UNION ALL SELECT id, 1, m2, m3 FROM nsig
       |  UNION ALL SELECT id, 2, m4, m5 FROM nsig
       |  UNION ALL SELECT id, 3, m6, m7 FROM nsig),
       |okb AS (
       |  SELECT band, x, y FROM cbands GROUP BY band, x, y
       |  HAVING count(*) <= 100),
       |cand AS (
       |  SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
       |  FROM nbands a
       |  JOIN cbands b ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |  JOIN okb o ON a.band = o.band AND a.x = o.x AND a.y = o.y),
       |ncnt AS (SELECT id, count(*) AS n FROM nsh GROUP BY id),
       |ccnt AS (SELECT id, count(*) AS n FROM csh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS new_id, b.id AS corpus_id, count(*) AS i
       |  FROM nsh a JOIN csh b ON a.s = b.s GROUP BY a.id, b.id),
       |pairs AS (
       |  SELECT new_id, corpus_id, i / (n1.n + n2.n - i) AS jac
       |  FROM inter
       |  JOIN ncnt n1 ON new_id = n1.id
       |  JOIN ccnt n2 ON corpus_id = n2.id)
       |SELECT p.new_id, p.corpus_id, ${sroundSql("p.jac")} AS jaccard
       |FROM pairs p JOIN cand c
       |  ON p.new_id = c.new_id AND p.corpus_id = c.corpus_id
       |WHERE p.jac >= 0.8
       |ORDER BY p.new_id, p.corpus_id""".stripMargin

  // clusters: the minhash pair chain, then min-reachable-id per doc via
  // a recursive reachability CTE (the SQL twin of hash-min propagation)
  private val clustersCtes =
    s"""WITH RECURSIVE $shingleCte,
       |hs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM sh),
       |sig AS (
       |  SELECT id,
       |    $sigCols
       |  FROM hs GROUP BY id),
       |$bandCandCtes,
       |${jaccardCtes()},
       |fpairs AS (
       |  SELECT p.id1, p.id2
       |  FROM pairs p JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2
       |  WHERE p.jac >= 0.8),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM fpairs
       |  UNION ALL
       |  SELECT id2, id1 FROM fpairs),
       |nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, reach.r FROM reach JOIN edges e ON e.b = reach.id)""".stripMargin

  // shared bigram-LM chain (ends at `nllt(doc_id, nll)` on the 1e-4
  // grid) — reused by pl_bigram_nll and the CCNet tercile bucketing
  private val bigramNllCtes =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |         i -> w[i] || ' ' || w[i+1])) AS g
       |  FROM tok WHERE len(w) >= 2),
       |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM tok)),
       |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
       |c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
       |nllt AS (
       |  SELECT doc_id,
       |    ${sroundSql("-avg(ln((c2.c2 + 0.1) / (c1.c1 + 0.1 * v.v)))")} AS nll
       |  FROM bg JOIN c2 USING (g)
       |  JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1, v
       |  GROUP BY doc_id)""".stripMargin

  private val bucketSql = (salt: String) =>
    s"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_$salt'), 1, 15)) AS BIGINT) % 10000"

  private val nBits = 60 // 4 chunks × 15 bits — mirrors the Spark gate

  private val votes = (0 until nBits)
    .map(b => s"SUM(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(",\n    ")

  private val bits = (0 until nBits)
    .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  // shared token-vote prefix (ends at `sim(id, simhash)`): both the
  // fixed-radius and adaptive chains compose on top of it — `sim` is
  // MATERIALIZED for the adaptive chain, whose probe + chunk CTEs scan
  // it four times (DuckDB would otherwise re-expand the token-vote
  // pipeline per scan)
  private def simhashVoteCtes(simMaterialized: Boolean): String = {
    val simKw = if (simMaterialized) "MATERIALIZED " else ""
    s"""tokx AS (
       |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t FROM documents),
       |hs AS (SELECT id, ${h60Sql("t")} AS h FROM tokx),
       |votes AS (
       |  SELECT id,
       |    $votes
       |  FROM hs GROUP BY id),
       |sim AS $simKw(SELECT id, $bits AS simhash FROM votes)""".stripMargin
  }

  // shared simhash chain (ends at `cand(id1, id2, hamming)`) — reused
  // by pl_dedup_simhash and the soft-dedup oracle's pair source
  private val simhashCtes =
    s"""${simhashVoteCtes(simMaterialized = false)},
       |ck AS MATERIALIZED (
       |  SELECT id, simhash, c, (simhash >> (c * 15)) & 32767 AS v
       |  FROM sim, (VALUES (0), (1), (2), (3)) cs(c)),
       |okc AS (
       |  SELECT c, v FROM ck GROUP BY c, v HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id1, b.id AS id2,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM ck a JOIN ck b ON a.c = b.c AND a.v = b.v AND a.id < b.id
       |  JOIN okc o ON a.c = o.c AND a.v = o.v)""".stripMargin

  // ADAPTIVE-radius simhash chain (pl_neardup_edit / pl_neardup_eval):
  // replays Dedup.simhashPairsAuto's measured candidates-per-doc probe
  // — Σ C(bucket,2) at 4- then 3-way chunking, first within 64·n wins,
  // else 2-way — all-integer, so the SQL choice is bit-identical to
  // the gate's.
  private val simhashAutoCtes = {
    s"""${simhashVoteCtes(simMaterialized = true)},
       |smm4 AS (SELECT CAST(coalesce(sum((b * (b - 1)) // 2), 0) AS BIGINT) AS m
       |  FROM (SELECT count(*) AS b
       |        FROM sim, (VALUES (0), (1), (2), (3)) cs(i)
       |        GROUP BY cs.i, (simhash >> (cs.i * 15)) & 32767)),
       |smm3 AS (SELECT CAST(coalesce(sum((b * (b - 1)) // 2), 0) AS BIGINT) AS m
       |  FROM (SELECT count(*) AS b
       |        FROM sim, (VALUES (0), (1), (2)) cs(i)
       |        GROUP BY cs.i, (simhash >> (cs.i * 20)) & 1048575)),
       |smn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sim),
       |cprm AS (SELECT CASE WHEN smm4.m <= 64 * smn.n THEN 4
       |                     WHEN smm3.m <= 64 * smn.n THEN 3
       |                     ELSE 2 END AS c
       |         FROM smm4, smm3, smn),
       |ck AS MATERIALIZED (
       |  SELECT id, simhash, cs.i AS c,
       |    (simhash >> (cs.i * (60 // p.c)))
       |      & ((CAST(1 AS BIGINT) << (60 // p.c)) - 1) AS v
       |  FROM sim, cprm p, (VALUES (0), (1), (2), (3)) cs(i)
       |  WHERE cs.i < p.c),
       |okc AS (
       |  SELECT c, v FROM ck GROUP BY c, v HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.id AS id1, b.id AS id2,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM ck a JOIN ck b ON a.c = b.c AND a.v = b.v AND a.id < b.id
       |  JOIN okc o ON a.c = o.c AND a.v = o.v)""".stripMargin
  }

  private val cosExpr =
    """list_dot_product(qv, nv) /
      |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv)))""".stripMargin

  // PCA oracle: identical quantized moments in HUGEINT, four unrolled
  // power iterations with the magnitude-only rescale (floor-vs-
  // truncate can't diverge), first-nonzero-positive sign, integer-dot
  // projection. The m=0 rescale branch pins x to the 10⁴ start value
  // — reachable only for a zero covariance matrix, where the Spark
  // side's keep-previous rule lands on the same vector.
  private val pcaIter = (i: Int) => {
    val prev = if (i == 1) "x0" else s"x${i - 1}"
    s"""y$i AS (
       |  SELECT cm.j, sum(cm.c * p.x) AS y
       |  FROM cm JOIN $prev p ON p.j = cm.k GROUP BY cm.j),
       |m$i AS (SELECT max(abs(y)) AS m FROM y$i),
       |x$i AS MATERIALIZED (
       |  SELECT y$i.j,
       |    CASE WHEN m$i.m = 0 THEN CAST(10000 AS HUGEINT)
       |         WHEN y$i.y < 0 THEN -((abs(y$i.y) * 10000) // m$i.m)
       |         ELSE (abs(y$i.y) * 10000) // m$i.m END AS x
       |  FROM y$i, m$i)""".stripMargin
  }

  private val cosOf = (a: String, b: String) =>
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  // parameterized so the persistence round-trip gate (pl_ivf_index)
  // replays the same chain on its own query slice / probe width
  private def ivfSql(qPred: String, nProbe: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id %
       |  (SELECT greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT))
       |   FROM embeddings) = 0),
       |asg AS (
       |  SELECT nid, nv, cid FROM (
       |    SELECT a.vec_id AS nid, a.v AS nv, c.cid,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY ${cosOf("a.v", "c.cv")} DESC, c.cid) AS rk
       |    FROM e a, cent c) WHERE rk = 1),
       |probe AS (
       |  SELECT qid, qv, cid FROM (
       |    SELECT q.vec_id AS qid, q.v AS qv, c.cid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosOf("q.v", "c.cv")} DESC, c.cid) AS rk
       |    FROM e q, cent c WHERE $qPred) WHERE rk <= $nProbe),
       |s AS (
       |  SELECT qid, nid, ${cosOf("qv", "nv")} AS cos
       |  FROM probe JOIN asg USING (cid) WHERE qid != nid),
       |r AS (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |  FROM s)
       |SELECT qid, nid, ${sroundSql("cos")} AS cos FROM r WHERE rk <= 5
       |ORDER BY qid, nid""".stripMargin

  // Lloyd k-means, two full iterations + final assignment. Distances
  // and init mirror Similarity.kmeans exactly; centroid means are
  // rounded with the shared round4 each iteration so both engines
  // iterate from bit-identical literals (summation ORDER differs
  // between engines; 1e-4 rounding absorbs the 1e-13 noise).
  private val kmAssign = (src: String, out: String) =>
    s"""$out AS (SELECT id, v, cid FROM (
       |  SELECT e.id, e.v, c.cid, row_number() OVER (PARTITION BY e.id ORDER BY
       |    list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
       |      + list_dot_product(c.cv, c.cv), c.cid) AS rk
       |  FROM e, $src c) WHERE rk = 1)""".stripMargin

  private val kmUpdate = (assign: String, prev: String, out: String) =>
    s"""m_$out AS (
       |  SELECT cid, d, ${sroundSql("avg(v[d])")} AS m
       |  FROM $assign, (SELECT unnest(range(1, 65)) AS d) dims
       |  GROUP BY cid, d),
       |n_$out AS (SELECT cid, list(m ORDER BY d) AS cv FROM m_$out GROUP BY cid),
       |$out AS (
       |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN n_$out n ON p.cid = n.cid)""".stripMargin

  // PQ oracle: the kmeans replay per subspace over sliced vectors,
  // then codes; the assignment/update generators mirror kmAssign/
  // kmUpdate with the subspace's slice bounds and dims
  private val pqAssign = (s: Int, src: String, out: String) =>
    s"""$out AS (SELECT id, v, cid FROM (
       |  SELECT e_$s.id, e_$s.v, c.cid, row_number() OVER (PARTITION BY e_$s.id ORDER BY
       |    list_dot_product(e_$s.v, e_$s.v) - 2 * list_dot_product(e_$s.v, c.cv)
       |      + list_dot_product(c.cv, c.cv), c.cid) AS rk
       |  FROM e_$s, $src c) WHERE rk = 1)""".stripMargin

  private val pqUpdate = (sub: Int, assign: String, prev: String, out: String) =>
    s"""m_$out AS (
       |  SELECT cid, d, ${sroundSql("avg(v[d])")} AS m
       |  FROM $assign, (SELECT unnest(range(1, ${sub + 1})) AS d) dims
       |  GROUP BY cid, d),
       |n_$out AS (SELECT cid, list(m ORDER BY d) AS cv FROM m_$out GROUP BY cid),
       |$out AS (
       |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN n_$out n ON p.cid = n.cid)""".stripMargin

  private def pqSubChain(m: Int, sub: Int, k: Int, src: String): String = {
    val sb = new StringBuilder
    for (s <- 0 until m) {
      val a = s * sub + 1
      val b = (s + 1) * sub
      sb ++= s""",
e_$s AS (SELECT id, v[$a:$b] AS v FROM $src),
c0_$s AS (SELECT id AS cid, v AS cv FROM e_$s WHERE id < $k),
${pqAssign(s, s"c0_$s", s"a1_$s")},
${pqUpdate(sub, s"a1_$s", s"c0_$s", s"c1_$s")},
${pqAssign(s, s"c1_$s", s"a2_$s")},
${pqUpdate(sub, s"a2_$s", s"c1_$s", s"c2_$s")},
code_$s AS MATERIALIZED (SELECT id, cid FROM (
  SELECT e_$s.id, c.cid, row_number() OVER (PARTITION BY e_$s.id ORDER BY
    list_dot_product(e_$s.v, e_$s.v) - 2 * list_dot_product(e_$s.v, c.cv)
      + list_dot_product(c.cv, c.cv), c.cid) AS rk
  FROM e_$s, c2_$s c) WHERE rk = 1)"""
    }
    sb.result()
  }

  private def pqChainSql(m: Int, sub: Int, k: Int): String =
    "WITH e AS (SELECT vec_id AS id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)" +
      pqSubChain(m, sub, k, "e")

  // IVF-PQ (IVFADC) oracle: the coarse kmeans replay -> residuals ->
  // the residual-PQ chain (same generators over `res`) -> probe the
  // nprobe nearest coarse lists per query -> ADC restricted to probed
  // lists, with the gate's fixed left-to-right subspace association
  // IVF-PQ candidate chain (shared by pl_knn_ivfpq and the re-rank
  // gate): WITH ... r AS (ranked residual-ADC candidates)
  private val ivfPqChain = {
    val probe =
      s""",
res AS MATERIALIZED (
  SELECT a.id, a.cid AS lcid,
         list_transform(range(1, 65), d -> a.v[d] - c.cv[d]) AS v
  FROM a3 a JOIN c2 c ON a.cid = c.cid)""" +
      pqSubChain(4, 16, 8, "res") +
      s""",
q AS (SELECT id AS qid, v FROM e WHERE id < 10),
pr AS MATERIALIZED (
  SELECT qid, lcid, qr FROM (
    SELECT q.qid, c.cid AS lcid,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.cv)
          + list_dot_product(c.cv, c.cv), c.cid) AS rk,
      list_transform(range(1, 65), d -> q.v[d] - c.cv[d]) AS qr
    FROM q, c2 c) WHERE rk <= 2)""" +
      (0 until 4).map { s =>
        val a = s * 16 + 1
        val b = (s + 1) * 16
        s""",
t_$s AS MATERIALIZED (SELECT p.qid, p.lcid, c.cid,
  list_dot_product(p.qr[$a:$b], p.qr[$a:$b])
    - 2 * list_dot_product(p.qr[$a:$b], c.cv)
    + list_dot_product(c.cv, c.cv) AS d
  FROM pr p, c2_$s c)"""
      }.mkString
    s"""WITH e AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
       |${kmAssign("c0", "a1")},
       |${kmUpdate("a1", "c0", "c1")},
       |${kmAssign("c1", "a2")},
       |${kmUpdate("a2", "c1", "c2")},
       |${kmAssign("c2", "a3")}""".stripMargin +
      probe + s"""
,
adc AS (
  SELECT t0.qid, k0.id AS nid, ((t0.d + t1.d) + t2.d) + t3.d AS adc
  FROM code_0 k0
  JOIN code_1 k1 ON k1.id = k0.id
  JOIN code_2 k2 ON k2.id = k0.id
  JOIN code_3 k3 ON k3.id = k0.id
  JOIN res rv ON rv.id = k0.id
  JOIN t_0 t0 ON t0.cid = k0.cid AND t0.lcid = rv.lcid
  JOIN t_1 t1 ON t1.cid = k1.cid AND t1.qid = t0.qid AND t1.lcid = t0.lcid
  JOIN t_2 t2 ON t2.cid = k2.cid AND t2.qid = t0.qid AND t2.lcid = t0.lcid
  JOIN t_3 t3 ON t3.cid = k3.cid AND t3.qid = t0.qid AND t3.lcid = t0.lcid
  WHERE k0.id != t0.qid),
r AS (
  SELECT qid, nid, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid) AS rk
  FROM adc)"""
  }

  // fixture interpolated from the shared HtmlFixture constant; same
  // regex chain as TextAnalysis.stripHtml (RE2-compatible patterns,
  // DuckDB needs the explicit 'g' flag where Spark is global)
  private val htmlValues = HtmlFixture
    .map { case (id, t) =>
      s"($id, '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')"
    }
    .mkString(", ")

  // greedy longest-match WordPiece as a recursive CTE: `best` holds the
  // longest vocabulary hit per (distinct word, char position); `walk`
  // follows exactly one chain per word (one best per position ⇒ no
  // branching); a chain that dies before position len(w)+1 means some
  // position had no hit — the whole word becomes [UNK], matching the
  // Scala loop's early return
  private val wpValues = WordpieceVocab.map(p => s"('$p')").mkString(", ")

  // unigram-LM Viterbi oracle: the SAME additive-key DP as
  // TextAnalysis.unigramEncode — key(p) = 128·score(p) − 1 with
  // score(p) = 500·len + md5h60(p) mod 400 for vocab pieces, 100 for
  // the implicit single-char fallback; per-position argmax over the
  // key via greatest() (NULL candidates = disallowed pieces are
  // ignored, Postgres semantics); one recursive step per character
  // position over the DISTINCT-word relation (corpus words ≤ 8
  // chars), final (n_pieces, score) decomposed from the key exactly
  private val unigramValues = UnigramVocab.map(p => s"('$p')").mkString(", ")

  // fixture interpolated from the shared UrlFixture constant
  private val urlValues = UrlFixture
    .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
    .mkString(", ")

  // TextRank oracle: identical integer PageRank walked as 5 unrolled
  // MATERIALIZED CTE rounds — per-edge contributions floor(r/out) and
  // the damped update floor(3·Σ/4) are the same float-divide-then-
  // floor shapes the Spark side uses, and the contribution sums are
  // integer (order-free), so both engines hold identical ranks
  private val textRankIters = (1 to 5).map { k =>
    val prev = if (k == 1) "r0" else s"r${k - 1}"
    s"""r$k AS MATERIALIZED (
       |  SELECT v.word,
       |    tl.t + CAST(floor(3 * COALESCE(c.s, 0) / 4.0) AS BIGINT) AS r
       |  FROM v CROSS JOIN tele tl LEFT JOIN (
       |    SELECT e.dst AS word, sum(CAST(floor(p.r / d.o) AS BIGINT)) AS s
       |    FROM e JOIN $prev p ON p.word = e.src JOIN deg d ON d.src = e.src
       |    GROUP BY e.dst) c ON c.word = v.word)""".stripMargin
  }.mkString(",\n")

  // HLL overlap oracle: identical registers restricted to the five
  // gate sources, pair unions via bucket-wise max over two equi-joins,
  // and the SAME estimate CTE text (emitted by one helper for singles
  // and unions, so the double math cannot drift between the two uses)
  private def hllEstCte(regsName: String, keys: String, pfx: String): String =
    s"""${pfx}agg AS (
       |  SELECT $keys, count(*) AS nb,
       |    sum(CAST(round(power(2, 53 - M)) AS BIGINT)) AS zp
       |  FROM $regsName GROUP BY $keys),
       |${pfx}f AS (
       |  SELECT $keys,
       |    CAST(zp + (256 - nb) * 9007199254740992 AS BIGINT) AS zint,
       |    256 - nb AS v
       |  FROM ${pfx}agg),
       |${pfx}e AS (
       |  SELECT $keys, v,
       |    (0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)) * 65536.0e0
       |      / (CAST(zint AS DOUBLE) / 9007199254740992.0e0) AS eraw
       |  FROM ${pfx}f),
       |${pfx}est AS (
       |  SELECT $keys,
       |    CASE WHEN eraw <= 640.0e0 AND v > 0
       |         THEN 256.0e0 * ln(256.0e0 / CAST(v AS DOUBLE))
       |         ELSE eraw END AS est
       |  FROM ${pfx}e)""".stripMargin

  // water-filling oracle: identical ordered scan (saturation test in
  // pure integer arithmetic), identical λ/remainder math, one CTE
  // chain shared by the alloc and sample gates
  private val budgetCtes =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT lang, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
       |  FROM documents),
       |tot AS (SELECT (CAST(sum(ntok) AS BIGINT) * 4) // 5 AS b FROM tok),
       |cs AS (
       |  SELECT lang AS source, CAST(sum(ntok) AS BIGINT) AS c
       |  FROM tok GROUP BY 1),
       |scan AS (
       |  SELECT source, c,
       |         row_number() OVER (ORDER BY c, source) AS rn,
       |         CAST(sum(c) OVER (ORDER BY c, source
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
       |         CAST(count(*) OVER () AS BIGINT) AS ns
       |  FROM cs),
       |st AS (
       |  SELECT s.*, t.b,
       |         (c * (ns - rn + 1) <= b - (pfx - c)) AS sat
       |  FROM scan s, tot t),
       |kk AS (
       |  SELECT CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS K,
       |         CAST(sum(CASE WHEN sat THEN c ELSE 0 END) AS BIGINT) AS PK,
       |         max(ns) AS S, max(b) AS b
       |  FROM st),
       |pm AS (
       |  SELECT CASE WHEN S > K THEN (b - PK) // (S - K) ELSE 0 END AS lam,
       |         CASE WHEN S > K THEN (b - PK) % (S - K) ELSE 0 END AS r
       |  FROM kk),
       |fin AS (
       |  SELECT s.source, s.c, s.sat,
       |         CAST(sum(CASE WHEN s.sat THEN 0 ELSE 1 END) OVER (
       |              ORDER BY s.source ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |           AS unsat_rank,
       |         p.lam, p.r
       |  FROM st s, pm p),
       |alloc AS (
       |  SELECT source, c AS c_tokens,
       |         CASE WHEN sat THEN c
       |              ELSE lam + CASE WHEN unsat_rank <= r THEN 1 ELSE 0 END
       |         END AS alloc,
       |         sat AS saturated
       |  FROM fin)""".stripMargin

  // Z-order oracle: the same unrolled 16-bit Morton interleave (exact
  // integer shifts/masks), same saturating 8-bit buckets, same
  // equi-width file split
  private val zInterleave = (0 until 8).map { i =>
    s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}"
  }.mkString(" + ")

  /** The pipeline gates: each builder with its DuckDB oracle. */
  lazy val gates: Seq[Gate] = Seq(
    // ---- text analysis -------------------------------------------------
    // tokens projected once per row (w_), then every stat reads the
    // array — inlining tokens(text) into each stat re-runs the split
    // per consumer (see TextAnalysis codegen note)
    Gate("pl_text_stats", { (s, dir) =>
      val w = col("w_")
      TextAnalysis.withTokens(docs(s, dir)).select(
        col("doc_id"),
        size(w).cast("long").as("n_tokens"),
        TextAnalysis.charCount(col("text")).cast("long").as("n_chars_calc"),
        round4(TextAnalysis.punctRatio(col("text"))).as("punct_ratio"),
        round4(TextAnalysis.stopwordRatioOf(w)).as("stopword_ratio"),
        round4(TextAnalysis.qualityScoreOf(col("text"), w)).as("quality"))
        .orderBy("doc_id")
    },
      s"""WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  len(w) AS n_tokens,
         |  length(text) AS n_chars_calc,
         |  ${sroundSql(
          "(length(text) - length(regexp_replace(text, '[.,!?;:''\"]', '', 'g'))) / CAST(length(text) AS DOUBLE)")} AS punct_ratio,
         |  ${sroundSql(
          s"len(list_filter(w, t -> t IN (${stopIn(Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))}))) / CAST(len(w) AS DOUBLE)")} AS stopword_ratio,
         |  ${sroundSql(
          s"""least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.5
             + least(len(list_filter(w, t -> t IN (${stopIn(Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))}))) / CAST(len(w) AS DOUBLE) * 5.0, 1.0) * 0.3
             + (1.0 - least((length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g'))) / CAST(length(text) AS DOUBLE) * 10.0, 1.0)) * 0.2""")} AS quality
         |FROM tok
         |ORDER BY doc_id""".stripMargin),

    Gate("pl_lang_id", { (s, dir) =>
      TextAnalysis.withTokens(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.langIdOf(col("w_")).as("lang_pred"))
        .orderBy("doc_id")
    },
      s"""WITH $tokCte,
         |scores AS (
         |  SELECT doc_id, $langScores
         |  FROM tok),
         |best AS (SELECT *, greatest($langBest) AS best FROM scores)
         |SELECT doc_id, CASE $langCase ELSE 'und' END AS lang_pred
         |FROM best ORDER BY doc_id""".stripMargin),

    // language-ID evaluation against the corpus's ground-truth lang
    // column: full confusion matrix + per-truth-language share — the
    // measure-don't-guess gate for the stopword heuristic (how much
    // corpus would a lang filter mis-route). Counts are one hash agg;
    // the share window runs on the ≤|langs|² confusion frame
    Gate("pl_langid_eval", { (s, dir) =>
      TextAnalysis.withTokens(docs(s, dir))
        .select(col("lang"), TextAnalysis.langIdOf(col("w_")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("n_lang",
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("(n * 10000) div n_lang").as("share_pm"))
        .orderBy("lang", "lang_pred")
    },
      // langid-evaluation oracle: the same prediction chain joined back
      // to the ground-truth lang column, confusion counts + per-truth
      // shares by exact integer division
      s"""WITH $tokCte,
         |scores AS (
         |  SELECT doc_id, $langScores
         |  FROM tok),
         |best AS (SELECT *, greatest($langBest) AS best FROM scores),
         |pred AS (
         |  SELECT doc_id, CASE $langCase ELSE 'und' END AS lang_pred
         |  FROM best),
         |c AS (
         |  SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM documents d JOIN pred p USING (doc_id)
         |  GROUP BY d.lang, p.lang_pred)
         |SELECT lang, lang_pred, n,
         |  (n * 10000) //
         |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_pm
         |FROM c ORDER BY lang, lang_pred""".stripMargin),

    // CCNet-style perplexity bucketing: docs ranked by their bigram-LM
    // NLL (1e-4 grid + doc_id tiebreak so the order crosses engines),
    // cut into head/middle/tail terciles — the quality routing CCNet
    // applies before choosing what to train on. The rank window runs
    // over the (id, score) frame, never the text
    Gate("pl_ccnet_bucket", { (s, dir) => CacheScope.eager { cache =>
      val scored = cache.keep(TextAnalysis.bigramNll(docs(s, dir)))
        .select(col("doc_id"), round4(col("nll")).as("nll"))
      val w = Window.orderBy(col("nll"), col("doc_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("t_", expr("((rn - 1) * 3) div nn + 1"))
        .select(col("doc_id"), col("nll"),
          when(col("t_") === 1, "head").when(col("t_") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }},
      // CCNet tercile oracle: the shared bigram-NLL chain, rank on the
      // rounded grid + doc_id tiebreak, integer tercile cut
      s"""WITH $bigramNllCtes,
         |r AS (
         |  SELECT doc_id, nll,
         |    CAST(row_number() OVER (ORDER BY nll, doc_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER () AS BIGINT) AS nn
         |  FROM nllt)
         |SELECT doc_id, nll,
         |  CASE ((rn - 1) * 3) // nn + 1 WHEN 1 THEN 'head'
         |       WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin),

    // PII/URL scrubbing — markers appended so the redaction chain
    // (email → URL → IPv4, order-sensitive) actually fires on every row
    Gate("pl_redact", { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.redact(concat(col("text"),
          lit(" contact bob@example.com or https://ex.org/x?q=1 from 10.0.0.1")))
          .as("clean"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    text || ' contact bob@example.com or https://ex.org/x?q=1 from 10.0.0.1',
         |    '${TextAnalysis.RedactEmail}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.RedactUrl}', '<URL>', 'g'),
         |    '${TextAnalysis.RedactIp}', '<IP>', 'g') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin),

    // vocabulary building: top-K token frequencies, deterministic ties
    Gate("pl_vocab", { (s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), topK = 100)
    },
      """SELECT token, freq FROM (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)
        |ORDER BY freq DESC, token LIMIT 100""".stripMargin),

    // per-source PII exposure report: match counts for the redaction
    // chain's email/URL/IPv4 patterns (counted independently on the raw
    // text) plus how many docs carry any hit — the audit a pipeline runs
    // BEFORE deciding to redact. Markers appended as in pl_redact so
    // every pattern fires; per-row regex work, one map-side-combined
    // groupBy
    Gate("pl_pii_stats", { (s, dir) =>
      val id = col("doc_id")
      val marked = docs(s, dir).select(id, col("source"),
        concat(col("text"),
          when(pmod(id, lit(3)) === 0, lit(" reach ops@example.org"))
            .otherwise(lit("")),
          when(pmod(id, lit(4)) === 0, lit(" see https://ex.org/doc"))
            .otherwise(lit("")),
          when(pmod(id, lit(5)) === 0, lit(" from 192.168.0.1"))
            .otherwise(lit(""))).as("text"))
      marked.select(col("source"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.RedactEmail), lit(0))).as("ne"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.RedactUrl), lit(0))).as("nu"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.RedactIp), lit(0))).as("ni"))
        .groupBy("source")
        .agg(sum(col("ne")).as("n_email"), sum(col("nu")).as("n_url"),
          sum(col("ni")).as("n_ip"),
          count(when(col("ne") + col("nu") + col("ni") > 0, lit(1)))
            .as("n_docs_pii"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")
    },
      // PII-stats oracle: the same markers and the same pattern constants
      // (interpolated from TextAnalysis so gate and oracle can never
      // drift), counted with regexp_extract_all
      s"""WITH m AS (
         |  SELECT doc_id, source, text ||
         |    (CASE WHEN doc_id % 3 = 0 THEN ' reach ops@example.org' ELSE '' END) ||
         |    (CASE WHEN doc_id % 4 = 0 THEN ' see https://ex.org/doc' ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.0.1' ELSE '' END)
         |    AS text
         |  FROM documents),
         |c AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '${TextAnalysis.RedactEmail}')) AS ne,
         |    len(regexp_extract_all(text, '${TextAnalysis.RedactUrl}')) AS nu,
         |    len(regexp_extract_all(text, '${TextAnalysis.RedactIp}')) AS ni
         |  FROM m)
         |SELECT source,
         |  CAST(sum(ne) AS BIGINT) AS n_email,
         |  CAST(sum(nu) AS BIGINT) AS n_url,
         |  CAST(sum(ni) AS BIGINT) AS n_ip,
         |  CAST(sum(CASE WHEN ne + nu + ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_pii,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM c GROUP BY source ORDER BY source""".stripMargin),

    // per-source corpus report: the dashboard aggregation every pipeline
    // runs after filtering — doc/token volumes and mean quality signals
    // per source, one map-side-combined groupBy
    Gate("pl_corpus_stats", { (s, dir) =>
      val w = col("w_")
      // Cross-engine-deterministic means: quantize each per-doc score to an
      // exact 1e-4 integer FIRST (per-row fp math is engine-stable, summation
      // order is not), sum the longs exactly, then one double division.
      TextAnalysis.withTokens(docs(s, dir))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(w).cast("long")).as("n_tokens"),
          sum(quant4(TextAnalysis.qualityScoreOf(col("text"), w))).as("sq_"),
          sum(quant4(TextAnalysis.qualityLrScoreOf(col("text"), w))).as("sl_"),
          count(when(TextAnalysis.langIdOf(w) === "en", lit(1))).as("n_en"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("sq_") / (col("n_docs") * 10000.0)).as("avg_quality"),
          (col("sl_") / (col("n_docs") * 10000.0)).as("avg_lr"),
          col("n_en"))
        .orderBy("source")
    },
      s"""WITH t AS (SELECT source, text, string_split(text, ' ') AS w FROM documents),
         |f AS (
         |  SELECT source, CAST(len(w) AS BIGINT) AS ntok,
         |    $qualitySql AS q,
         |    $lrScoreSql AS lr,
         |    $langScores
         |  FROM t),
         |b AS (SELECT *, greatest($langBest) AS best FROM f),
         |r AS (
         |  SELECT source, ntok, q, lr,
         |    CASE $langCase ELSE 'und' END AS lang
         |  FROM b)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(${quantSql("q")}) AS DOUBLE)
         |    / (count(*) * 10000.0) AS avg_quality,
         |  CAST(sum(${quantSql("lr")}) AS DOUBLE)
         |    / (count(*) * 10000.0) AS avg_lr,
         |  count(CASE WHEN lang = 'en' THEN 1 END) AS n_en
         |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // frozen logistic-regression quality classifier (fasttext-style
    // model-based filtering): σ(w·x+b) over per-row features, keep > 0.5
    Gate("pl_quality_lr", { (s, dir) =>
      val sc = round4(
        TextAnalysis.qualityLrScoreOf(col("text"), col("w_")))
      TextAnalysis.withTokens(docs(s, dir))
        .select(col("doc_id"), sc.as("lr_score"), (sc > 0.5).as("keep"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) AS ntok_norm,
         |    len(list_filter(w, t -> t IN ($stop10))) / CAST(len(w) AS DOUBLE) AS stopr,
         |    (length(text) - length(regexp_replace(text, '[.,!?;:''"]', '', 'g'))) / CAST(length(text) AS DOUBLE) AS punctr,
         |    1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS dupfrac,
         |    least((length(text) - (len(w) - 1)) / (CAST(len(w) AS DOUBLE) * 8.0), 1.0) AS awl
         |  FROM t),
         |s AS (
         |  SELECT doc_id, 1.0 / (1.0 + exp(-(${TextAnalysis.QualityLrBias}
         |    + ntok_norm * ${lrW("ntok_norm")}
         |    + stopr * ${lrW("stopword_ratio")}
         |    + punctr * ${lrW("punct_ratio")}
         |    + dupfrac * ${lrW("dup_token_frac")}
         |    + awl * ${lrW("avg_word_len_norm")}))) AS sc
         |  FROM f)
         |SELECT doc_id, ${sroundSql("sc")} AS lr_score,
         |       ${sroundSql("sc")} > 0.5 AS keep
         |FROM s ORDER BY doc_id""".stripMargin),

    // logistic-regression TRAINING (full-batch GD, 3 rounds from zero
    // weights, label = lang=='en'): per-row gradient terms quantize to
    // integer 1e-6 units, weights round to the 1e-4 grid each round
    Gate("pl_lr_train", { (s, dir) =>
      TextAnalysis.lrTrain(docs(s, dir), col("lang") === "en", iters = 3)
        .orderBy("feature")
    },
      // LR-training oracle: each GD round is one unrolled CTE stage (the
      // bpeTrain pattern) — gradient sums as order-free integer 1e-6
      // units against the previous round's weight row, the identical
      // fixed-shape update, weights on the 1e-4 grid
      {
        val lrFeats = Seq(
          "f1" -> "least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)",
          "f2" -> s"len(list_filter(w, t -> t IN ($stop10))) / CAST(len(w) AS DOUBLE)",
          "f3" -> "(length(text) - length(regexp_replace(text, '[.,!?;:''\"]', '', 'g'))) / CAST(length(text) AS DOUBLE)",
          "f4" -> "1.0 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE)",
          "f5" -> "least((length(text) - (len(w) - 1)) / (CAST(len(w) AS DOUBLE) * 8.0), 1.0)")
        val fCols = lrFeats.map { case (nm, e) =>
          s"${sroundSql(s"$e")} AS $nm"
        }.mkString(",\n  ")
        val iters = (1 to 3).map { k =>
          val z = "w.wb + f.f1 * w.w1 + f.f2 * w.w2 + f.f3 * w.w3 " +
            "+ f.f4 * w.w4 + f.f5 * w.w5"
          val g = s"1.0 / (1.0 + exp(-($z))) - f.y"
          val gSums = (1 to 5).map(j =>
            s"sum(CAST(floor(($g) * f.f$j * 1000000 + 0.5 + 1e-6) AS BIGINT)) AS g$j")
            .mkString(",\n    ") +
            s",\n    sum(CAST(floor(($g) * 1000000 + 0.5 + 1e-6) AS BIGINT)) AS gb"
          val upd = (1 to 5).map(j =>
            sroundSql(s"w.w$j - 1.0 * (CAST(g.g$j AS DOUBLE) / 1000000.0) / n.n") + s" AS w$j")
            .mkString(",\n    ") +
            ",\n    " + sroundSql("w.wb - 1.0 * (CAST(g.gb AS DOUBLE) / 1000000.0) / n.n") + " AS wb"
          s"""g$k AS (
             |  SELECT
             |    $gSums
             |  FROM f CROSS JOIN w${k - 1} w),
             |w$k AS (
             |  SELECT
             |    $upd
             |  FROM w${k - 1} w CROSS JOIN g$k g CROSS JOIN nn n)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (
           |  SELECT doc_id, text, string_split(text, ' ') AS w,
           |         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           |  FROM documents),
           |f AS MATERIALIZED (
           |  SELECT doc_id, y,
           |  $fCols
           |  FROM t),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
           |w0 AS (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3,
           |              0.0 AS w4, 0.0 AS w5),
           |$iters
           |SELECT 'bias' AS feature, wb AS weight FROM w3
           |UNION ALL SELECT 'ntok_norm', w1 FROM w3
           |UNION ALL SELECT 'stopword_ratio', w2 FROM w3
           |UNION ALL SELECT 'punct_ratio', w3.w3 FROM w3
           |UNION ALL SELECT 'dup_token_frac', w4 FROM w3
           |UNION ALL SELECT 'avg_word_len_norm', w5 FROM w3
           |ORDER BY feature""".stripMargin
      }),

    // exact ROC AUC of the frozen LR quality score against the
    // lang=='en' training label — Mann-Whitney U with tie-averaged
    // ranks, ALL integer until the final division: scores live on the
    // 1e-4 grid, the rank walk runs over the ≤10001-value score-grid
    // frame (never the corpus), 2·ΣR⁺ stays integral under ties
    Gate("pl_quality_auc", { (s, dir) =>
      val sc = TextAnalysis.qualityLrScoreOf(col("text"), col("w_"))
      val scored = TextAnalysis.withTokens(docs(s, dir))
        .select((col("lang") === "en").cast("long").as("pos"),
          quant4(sc).as("score_q"))
      val g = scored.groupBy("score_q")
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("posc"))
      val w = Window.orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("before", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .agg(sum(col("posc") * (col("before") * 2 + col("cnt") + 1)).as("r2"),
          sum(col("posc")).as("n_pos"), sum(col("cnt")).as("n_tot"))
        .select(col("n_pos"), (col("n_tot") - col("n_pos")).as("n_neg"),
          round4((col("r2") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2L) * col("n_pos") * (col("n_tot") - col("n_pos")))
              .cast("double")).as("auc"))
    },
      // AUC oracle: the shared LR score expression on the 1e-4 grid,
      // tie-averaged Mann-Whitney rank walk over the score-grid frame,
      // integer numerator/denominator, one final division
      s"""WITH t AS (
         |  SELECT doc_id, text, lang, string_split(text, ' ') AS w
         |  FROM documents),
         |s AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    ${quantSql(s"$lrScoreSql")}
         |      AS score_q
         |  FROM t),
         |g AS (
         |  SELECT score_q, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(sum(pos) AS BIGINT) AS posc
         |  FROM s GROUP BY score_q),
         |b AS (
         |  SELECT score_q, cnt, posc,
         |    CAST(coalesce(sum(cnt) OVER (ORDER BY score_q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS bef
         |  FROM g),
         |m AS (
         |  SELECT CAST(sum(posc * (bef * 2 + cnt + 1)) AS BIGINT) AS r2,
         |         CAST(sum(posc) AS BIGINT) AS n_pos,
         |         CAST(sum(cnt) AS BIGINT) AS n_tot
         |  FROM b)
         |SELECT n_pos, n_tot - n_pos AS n_neg,
         |  ${sroundSql("""CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |         CAST(2 * n_pos * (n_tot - n_pos) AS DOUBLE)""")} AS auc
         |FROM m""".stripMargin),

    // Self-BLEU diversity screen (Zhu et al. 2018 direction): each doc's
    // smoothed modified 1/2-gram precision against the REST of the
    // corpus (clip = min(c_doc, c_corpus − c_doc)), bleu = geometric
    // mean — high Self-BLEU flags a templated/memorized corpus; clip
    // and total counts are exact integers. Per-doc gram counts come
    // from ONE typed flatMap (local hashmap, one md5 per DISTINCT gram
    // per doc — gramHashCounts): the explode + (doc, gram) groupBy that
    // shuffled every gram STRING instance is now map-side local work,
    // and only 8-byte oracle-shared hashes cross the corpus-count
    // exchange. (The r11 draft that md5'd per token INSTANCE
    // declaratively was 1.3× slower and rejected; hashing once per
    // distinct-per-doc item in typed code is the winning recipe, the
    // same one that bought pl_ngram_novelty 8.9×.)
    Gate("pl_self_bleu", { (s, dir) =>
      def prec(n: Int) = {
        val dc = TextAnalysis.gramHashCounts(docs(s, dir), n)
        val gc = dc.groupBy("g").agg(sum(col("cd")).as("cg"))
        dc.join(gc, "g")
          .groupBy(col("id").as("doc_id"))
          .agg(sum(least(col("cd"), col("cg") - col("cd"))).as(s"clip$n"),
            sum(col("cd")).as(s"tot$n"))
      }
      val p1r = (col("clip1") + 1).cast("double") / (col("tot1") + 1).cast("double")
      val p2r = (col("clip2") + 1).cast("double") / (col("tot2") + 1).cast("double")
      prec(1).join(prec(2), Seq("doc_id"))
        .select(col("doc_id"), round4(p1r).as("p1"), round4(p2r).as("p2"),
          round4(exp((log(p1r) + log(p2r)) / 2)).as("bleu"))
        .orderBy("doc_id")
    },
      // Self-BLEU oracle: per-order clip/total integer counts against the
      // rest-of-corpus, +1-smoothed precisions, geometric mean in the
      // same expression shape as the Spark side
      // gram keys are the Spark-shared 60-bit md5 hash (gramHashCounts),
      // so both engines group/join on identical 8-byte keys and even a
      // hash collision cannot diverge them
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |u AS (SELECT doc_id, ${h60Sql("g")} AS g FROM
        |      (SELECT doc_id, unnest(w) AS g FROM tok)),
        |du AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cd
        |       FROM u GROUP BY doc_id, g),
        |gu AS (SELECT g, CAST(sum(cd) AS BIGINT) AS cg FROM du GROUP BY g),
        |p1 AS (
        |  SELECT doc_id, CAST(sum(least(cd, cg - cd)) AS BIGINT) AS clip1,
        |         CAST(sum(cd) AS BIGINT) AS tot1
        |  FROM du JOIN gu USING (g) GROUP BY doc_id),
        |bgr AS (SELECT doc_id, ${h60Sql("g")} AS g FROM
        |      (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS g
        |       FROM tok WHERE len(w) >= 2)),
        |db AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cd
        |       FROM bgr GROUP BY doc_id, g),
        |gb AS (SELECT g, CAST(sum(cd) AS BIGINT) AS cg FROM db GROUP BY g),
        |p2 AS (
        |  SELECT doc_id, CAST(sum(least(cd, cg - cd)) AS BIGINT) AS clip2,
        |         CAST(sum(cd) AS BIGINT) AS tot2
        |  FROM db JOIN gb USING (g) GROUP BY doc_id),
        |j AS (
        |  SELECT p1.doc_id,
        |    CAST(clip1 + 1 AS DOUBLE) / CAST(tot1 + 1 AS DOUBLE) AS p1r,
        |    CAST(clip2 + 1 AS DOUBLE) / CAST(tot2 + 1 AS DOUBLE) AS p2r
        |  FROM p1 JOIN p2 USING (doc_id))
        |SELECT doc_id,
        |  ${sroundSql("p1r")} AS p1,
        |  ${sroundSql("p2r")} AS p2,
        |  ${sroundSql("exp((ln(p1r) + ln(p2r)) / 2)")}
        |    AS bleu
        |FROM j ORDER BY doc_id""".stripMargin),

    // sequence packing: running-token-total bins within salted buckets —
    // the doc→training-sequence grouping step, window-parallel per bucket
    Gate("pl_pack", { (s, dir) =>
      Sampling.packBins(docs(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 512, nBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("bin"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_pack'), 1, 15)) AS BIGINT) % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket,
        |         coalesce(SUM(ntok) OVER (PARTITION BY bucket ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT doc_id, bucket,
        |       CAST(bucket AS VARCHAR) || '_' || CAST(cum // 512 AS VARCHAR) AS bin
        |FROM c ORDER BY doc_id""".stripMargin),

    Gate("pl_fingerprint", { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      s"""WITH $tokCte
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(w, t -> ${h60Sql("t")} % 1099511627776)),
         |    (a, b) -> (a * 31 + b) % 1099511627776) AS fp
         |FROM tok ORDER BY doc_id""".stripMargin),

    // Gopher-family repetition profile: dup token/2-gram/3-gram
    // fractions + longest same-token run, all per-row array math
    Gate("pl_repetition", { (s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir))
        .select(col("doc_id"),
          round4(col("dup_token_frac")).as("dup_token_frac"),
          round4(col("dup_2gram_frac")).as("dup_2gram_frac"),
          round4(col("dup_3gram_frac")).as("dup_3gram_frac"),
          col("max_run"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, w,
         |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
         |    list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
         |  FROM t),
         |${maxRunCtes("t")}
         |SELECT g.doc_id,
         |  ${sroundSql(dupFracSql)} AS dup_token_frac,
         |  ${sroundSql(
          "CASE WHEN len(g2) > 0 THEN 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE) ELSE 0.0 END")} AS dup_2gram_frac,
         |  ${sroundSql(
          "CASE WHEN len(g3) > 0 THEN 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE) ELSE 0.0 END")} AS dup_3gram_frac,
         |  mr.max_run
         |FROM g JOIN mr ON g.doc_id = mr.doc_id ORDER BY g.doc_id""".stripMargin),

    // benchmark decontamination: train docs sharing any 4-gram with the
    // (broadcast) eval slice doc_id % 13 == 0
    Gate("pl_decontam", { (s, dir) =>
      val d = docs(s, dir)
      Dedup.decontaminate(
        d.filter(col("doc_id") % 13 =!= 0),
        d.filter(col("doc_id") % 13 === 0), n = 4)
        .orderBy("id")
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
        |  FROM t),
        |ev AS (SELECT DISTINCT s FROM g WHERE doc_id % 13 = 0)
        |SELECT g.doc_id AS id, count(*) AS n_contaminated
        |FROM g JOIN ev USING (s) WHERE g.doc_id % 13 != 0
        |GROUP BY g.doc_id ORDER BY id""".stripMargin),

    // eval-side contamination report: per eval doc, distinct-gram count,
    // grams found anywhere in train, and the dirty fraction
    Gate("pl_contam_report", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      cache.keep(Dedup.contaminationReport(
        d.filter(col("doc_id") % 13 =!= 0),
        d.filter(col("doc_id") % 13 === 0), n = 4))
        .select(col("doc_id"), col("n_grams"), col("n_dirty"),
          round4(col("dirty_frac")).as("dirty_frac"))
        .orderBy("doc_id")
    }},
      // eval-side report oracle: same gram relations, matched distinct
      // grams via an eval⋉train join, per-eval-doc counts
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
         |  FROM t),
         |ev AS (SELECT doc_id AS id, s FROM g WHERE doc_id % 13 = 0),
         |tr AS (SELECT DISTINCT s FROM g WHERE doc_id % 13 != 0),
         |m AS (SELECT DISTINCT ev.s FROM ev JOIN tr USING (s)),
         |r AS (
         |  SELECT ev.id, count(*) AS n_grams,
         |         CAST(sum(CASE WHEN m.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
         |  FROM ev LEFT JOIN m ON ev.s = m.s GROUP BY ev.id)
         |SELECT id AS doc_id, n_grams, n_dirty,
         |       ${sroundSql("CAST(n_dirty AS DOUBLE) / n_grams")} AS dirty_frac
         |FROM r ORDER BY doc_id""".stripMargin),

    // Bloom-filter decontamination: same train/eval split as
    // pl_decontam, but the eval set crosses the cluster as a fixed
    // 2^22-position Bloom frame instead of gram strings — flags are a
    // deterministic superset (FPs replayed exactly by the oracle)
    Gate("pl_decontam_bloom", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      cache.keep(Dedup.bloomDecontaminate(
        d.filter(col("doc_id") % 13 =!= 0),
        d.filter(col("doc_id") % 13 === 0), n = 4))
        .orderBy("id")
    }},
      // Bloom decontam oracle: rebuild the identical position set (4
      // md5 hashes per eval gram mod 2^22), probe each train gram's 4
      // positions, flag on all-hit
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
         |  FROM t),
         |hx(i) AS (VALUES (0), (1), (2), (3)),
         |bits AS (
         |  SELECT DISTINCT ${h60Sql("s || '#' || CAST(i AS VARCHAR)")} % 4194304 AS pos
         |  FROM (SELECT DISTINCT s FROM g WHERE doc_id % 13 = 0) CROSS JOIN hx),
         |tp AS (
         |  SELECT doc_id, s,
         |         ${h60Sql("s || '#' || CAST(i AS VARCHAR)")} % 4194304 AS pos
         |  FROM g CROSS JOIN hx WHERE doc_id % 13 != 0),
         |hit AS (
         |  SELECT doc_id, s, count(*) AS nh
         |  FROM tp JOIN bits USING (pos) GROUP BY doc_id, s)
         |SELECT doc_id AS id, count(*) AS n_flagged
         |FROM hit WHERE nh = 4 GROUP BY doc_id ORDER BY id""".stripMargin),

    // per-source document cap (the web pipeline's per-host cap):
    // deterministic salted-rank keep of at most 10 docs per source
    Gate("pl_source_cap", { (s, dir) =>
      Sampling.capPerKey(docs(s, dir), "source", "doc_id", maxPerKey = 10)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_cap'), 1, 15)) AS BIGINT) % 10000,
        |             doc_id) AS rk
        |  FROM documents) WHERE rk <= 10 ORDER BY doc_id""".stripMargin),

    // composite C4/Gopher filter chain with first-failing-rule reasons;
    // +10000 duplicates unioned in so the duplicate rule fires
    Gate("pl_filter_chain", { (s, dir) =>
      val d = docs(s, dir)
      val u = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      FilterChain.c4Filter(u)
        .select(col("doc_id"), col("keep"), col("reason"))
        .orderBy("doc_id")
    },
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents),
         |t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w,
         |         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM d),
         |${maxRunCtes("t")},
         |feat AS (
         |  SELECT doc_id, keep_id, len(w) AS ntok,
         |    $dupFracSql AS dupfrac,
         |    $qualitySql AS q,
         |    $langScores
         |  FROM t),
         |best AS (SELECT *, greatest($langBest) AS best FROM feat),
         |r AS (
         |  SELECT feat.doc_id,
         |    CASE WHEN feat.doc_id != keep_id THEN 'duplicate'
         |         WHEN (CASE $langCase ELSE 'und' END) != 'en' THEN 'lang'
         |         WHEN ntok < 15 THEN 'too_short'
         |         WHEN ntok > 95 THEN 'too_long'
         |         WHEN dupfrac > 0.65 THEN 'repetitive_tokens'
         |         WHEN mr.max_run > 2 THEN 'repetitive_run'
         |         WHEN q < 0.31 THEN 'low_quality'
         |         ELSE 'ok' END AS reason
         |  FROM best feat JOIN mr ON feat.doc_id = mr.doc_id)
         |SELECT doc_id, reason = 'ok' AS keep, reason FROM r ORDER BY doc_id""".stripMargin),

    // window-level duplication profile: every 8-token window hashed,
    // windows occurring ≥2 times corpus-wide counted per doc (the
    // fixed-window flavor of substring dedup)
    Gate("pl_dup_windows", { (s, dir) =>
      Dedup.dupWindowStats(docs(s, dir), w = 8)
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round4(col("dup_frac")).as("dup_frac"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |win AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
         |         i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g
         |  FROM t WHERE len(w) >= 8),
         |c AS (SELECT g, count(*) AS c FROM win GROUP BY g)
         |SELECT doc_id,
         |  count(*) AS n_windows,
         |  count(CASE WHEN c.c >= 2 THEN 1 END) AS n_dup_windows,
         |  ${sroundSql("count(CASE WHEN c.c >= 2 THEN 1 END) / CAST(count(*) AS DOUBLE)")} AS dup_frac
         |FROM win JOIN c USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // substring-dedup removal: the globally first occurrence of every
    // 8-token window survives; later verbatim occurrences are cut from
    // their docs (Lee et al. direction, fixed-window approximation)
    Gate("pl_window_dedup", { (s, dir) =>
      Dedup.dropDupWindows(docs(s, dir), w = 8)
        .orderBy("doc_id")
    },
      // window-dedup removal: first occurrence per 8-token window text
      // survives (the Spark side ranks by xxhash64 of the window — same
      // partition up to negligible 64-bit collisions); later occurrences'
      // covered tokens are cut. Parallel unnests zip (i, window) together
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |win AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(w) - 6)) AS i,
        |    unnest(list_transform(range(1, len(w) - 6),
        |      i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g
        |  FROM t WHERE len(w) >= 8),
        |r AS (SELECT doc_id, i,
        |        row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
        |      FROM win),
        |cuts AS (SELECT doc_id, list_sort(list(i)) AS cuts
        |         FROM r WHERE rn > 1 GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN cuts.cuts IS NULL THEN array_to_string(w, ' ')
        |       -- coalesce: DuckDB's array_to_string of an EMPTY list is
        |       -- NULL; a fully-cut doc must come back '' like Spark's
        |       ELSE coalesce(array_to_string(list_transform(
        |         list_filter(range(1, len(w) + 1),
        |           p -> len(list_filter(cuts.cuts, s -> s <= p AND p < s + 8)) = 0),
        |         p -> w[p]), ' '), '') END AS clean_text,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CASE WHEN cuts.cuts IS NULL THEN CAST(0 AS BIGINT)
        |       ELSE CAST(len(list_filter(range(1, len(w) + 1),
        |         p -> len(list_filter(cuts.cuts, s -> s <= p AND p < s + 8)) > 0)) AS BIGINT)
        |  END AS n_removed
        |FROM t LEFT JOIN cuts USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ---- dedup ---------------------------------------------------------
    Gate("pl_dedup_exact", { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val dup = d.withColumn("doc_id", col("doc_id") + 10000)
      Dedup.exact(d.unionByName(dup)).orderBy("doc_id")
    },
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |FROM d ORDER BY doc_id""".stripMargin),

    Gate("pl_dedup_ngram", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.8))
        .select(col("id1"), col("id2"), round4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")
    }},
      s"""WITH $shingleCte,
         |${cappedShingleCte(1000)},
         |${jaccardCtes("shf")}
         |SELECT id1, id2, ${sroundSql("jac")} AS jaccard
         |FROM pairs WHERE jac >= 0.8
         |ORDER BY id1, id2""".stripMargin),

    // asymmetric containment |A∩B|/|A| — the quote/boilerplate detector
    // Jaccard structurally misses (small doc inside big one)
    Gate("pl_containment", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.containmentPairs(docs(s, dir), n = 3, threshold = 0.9))
        .select(col("contained"), col("container"),
          round4(col("containment")).as("containment"))
        .orderBy("contained", "container")
    }},
      // containment oracle: same capped shingle relation, both orientations
      // of each unordered intersection row
      s"""WITH $shingleCte,
         |${cappedShingleCte(1000)},
         |cnt AS (SELECT id, count(*) AS n FROM shf GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id1, b.id AS id2, count(*) AS i
         |  FROM shf a JOIN shf b ON a.s = b.s AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |ws AS (
         |  SELECT id1, id2, i, c1.n AS n1, c2.n AS n2
         |  FROM inter JOIN cnt c1 ON id1 = c1.id JOIN cnt c2 ON id2 = c2.id),
         |o AS (
         |  SELECT id1 AS contained, id2 AS container,
         |         CAST(i AS DOUBLE) / n1 AS cm FROM ws
         |  UNION ALL
         |  SELECT id2, id1, CAST(i AS DOUBLE) / n2 FROM ws)
         |SELECT contained, container, ${sroundSql("cm")} AS containment
         |FROM o WHERE cm >= 0.9
         |ORDER BY contained, container""".stripMargin),

    // MinHash-ESTIMATED containment: the at-scale sibling of the exact
    // pl_containment quadratic — LSH candidates + signature-match
    // Jaccard estimate + exact set sizes; only 8 slots and a count per
    // doc cross the shuffle, never a shingle set
    Gate("pl_containment_est", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.containmentEstimate(docs(s, dir), n = 3, threshold = 0.5))
        .orderBy("contained", "container")
    }},
      // estimated-containment oracle: same signatures/bands/cap, the
      // signature match count as an exact eighth, exact per-doc set sizes,
      // and the one left-associated estimate shape quantized at 4 dp
      {
        val m = (0 until 8).map(i =>
          s"(CASE WHEN s1.m$i = s2.m$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH $shingleCte,
           |hs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM sh),
           |sig AS (
           |  SELECT id,
           |    $sigCols,
           |    count(*) AS nsh
           |  FROM hs GROUP BY id),
           |$bandCandCtes,
           |ce AS MATERIALIZED (
           |  SELECT c.id1, c.id2,
           |    CAST($m AS DOUBLE) / 8.0 AS jhat,
           |    s1.nsh AS n1, s2.nsh AS n2
           |  FROM cand c JOIN sig s1 ON c.id1 = s1.id
           |              JOIN sig s2 ON c.id2 = s2.id),
           |est AS (
           |  SELECT id1 AS contained, id2 AS container,
           |         jhat / (jhat + 1.0) * (n1 + n2) / n1 AS e FROM ce
           |  UNION ALL
           |  SELECT id2, id1, jhat / (jhat + 1.0) * (n1 + n2) / n2 FROM ce)
           |SELECT contained, container,
           |       ${sroundSql("e")} AS est
           |FROM est WHERE e >= 0.5
           |ORDER BY contained, container""".stripMargin
      }),

    // prefix-filter all-pairs join (Bayardo et al. 2007): the LOSSLESS
    // scale path for exact Jaccard — only each set's rarest
    // |S|−⌈t·|S|⌉+1 shingles enter the self-join; oracle = exact
    // uncapped Jaccard pairs, which is the operator's contract
    Gate("pl_dedup_prefix", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.prefixFilterPairs(docs(s, dir), n = 3, threshold = 0.8))
        .select(col("id1"), col("id2"), round4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")
    }},
      // prefix-filter oracle: the operator's contract is exact Jaccard
      // (the prefix candidate set is provably lossless), so the oracle is
      // the plain uncapped pair set — PipelineSpec separately asserts the
      // prefix path equals the inverted-index path and prunes candidates
      s"""WITH $shingleCte,
         |${jaccardCtes()}
         |SELECT id1, id2, ${sroundSql("jac")} AS jaccard
         |FROM pairs WHERE jac >= 0.8
         |ORDER BY id1, id2""".stripMargin),

    // the maxDocFreq skew guard actually biting: cap=3 drops the corpus's
    // hottest shingles (test data has shingles in up to 9 docs); the
    // oracle replays the identical cap, so the guarded result is still
    // hash-checked
    Gate("pl_dedup_ngram_hot", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
        maxDocFreq = Some(3)))
        .select(col("id1"), col("id2"), round4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")
    }},
      s"""WITH $shingleCte,
         |${cappedShingleCte(3)},
         |${jaccardCtes("shf")}
         |SELECT id1, id2, ${sroundSql("jac")} AS jaccard
         |FROM pairs WHERE jac >= 0.8
         |ORDER BY id1, id2""".stripMargin),

    Gate("pl_dedup_minhash", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.minhashLshPairs(docs(s, dir), n = 3, threshold = 0.8))
        .select(col("id1"), col("id2"), round4(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2")
    }},
      s"""WITH $shingleCte,
         |hs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM sh),
         |sig AS (
         |  SELECT id,
         |    $sigCols
         |  FROM hs GROUP BY id),
         |$bandCandCtes,
         |${jaccardCtes()}
         |SELECT p.id1, p.id2, ${sroundSql("p.jac")} AS jaccard
         |FROM pairs p JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2
         |WHERE p.jac >= 0.8
         |ORDER BY p.id1, p.id2""".stripMargin),

    // incremental dedup: a new batch (doc_id % 5 == 0, plus exact copies
    // of some corpus docs at +50000) matched against the established
    // corpus's persisted band index + shingle table — cost scales with
    // the batch, never the corpus
    Gate("pl_dedup_incr", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 5 =!= 0)
      val fresh = d.filter(col("doc_id") % 5 === 0).unionByName(
        corpus.filter(col("doc_id") % 7 === 1)
          .withColumn("doc_id", col("doc_id") + 50000))
      val index = Dedup.lshBandIndex(corpus)
      val corpusSh = Dedup.shingleHashes(corpus).select("id", "h")
      val out = cache.keep(Dedup.incrementalNearDups(fresh, index, corpusSh))
        .select(col("new_id"), col("corpus_id"),
          round4(col("jaccard")).as("jaccard"))
        .orderBy("new_id", "corpus_id")
      out
    }},
      dedupIncr),

    // incremental dedup, CONSTANT-size batch (r14): pl_dedup_incr's
    // batch is 20% of the corpus, so its cost grows with the corpus and
    // the gate can't distinguish an index-probe regression from fixture
    // growth. Here the batch is pinned (doc_id < 2500 — the same ~600
    // docs at every SF from sf0.1 up) and probes a PERSISTED,
    // bucket-capped parquet index built once per source dir by
    // [[incrIndexFixture]] — the deployment shape where corpus-side
    // work is amortized across batches. The index layout is PRUNABLE
    // (r15): the verify stage reads only the shingle buckets holding
    // candidate ids, so the one thing that used to grow with the corpus
    // — the full columnar scan of the persisted shingle table — now
    // scales with the batch's candidate set.
    Gate("pl_dedup_incr_fixed", { (s, dir) => CacheScope.eager { cache =>
      val (bandIdx, shIdx, nBuckets) = incrIndexFixture(s, dir)
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val fresh = d
        .filter(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
        .unionByName(
          d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 1 &&
              col("doc_id") < 2500)
            .withColumn("doc_id", col("doc_id") + 50000))
      // maxBucket = 0: the cap is already baked into the persisted index
      cache.keep(Dedup.incrementalNearDups(fresh, bandIdx, shIdx,
          maxBucket = 0, shingleBuckets = nBuckets))
        .select(col("new_id"), col("corpus_id"),
          round4(col("jaccard")).as("jaccard"))
        .orderBy("new_id", "corpus_id")
    }},
      // constant-batch variant: identical chain, batch pinned to
      // doc_id < 2500 (the persisted-index fixture is value-invisible —
      // the same capped band index and shingle table, via parquet)
      {
        val a1 = "WHERE doc_id % 5 = 0"
        val a2 = "WHERE doc_id % 5 != 0 AND doc_id % 7 = 1"
        require(dedupIncr.contains(a1) && dedupIncr.contains(a2),
          "dedupIncrFixed batch anchors drifted out of dedupIncr")
        dedupIncr
          .replace(a1, a1 + " AND doc_id < 2500")
          .replace(a2, a2 + " AND doc_id < 2500")
      }),

    // END-TO-END curation composition — the full training-data pipeline
    // as ONE gate, priced and oracle-gated as a whole (each stage
    // is individually gated elsewhere; nothing else prices cross-stage
    // plan bloat like a lost ReuseExchange between stages):
    //   C4/Gopher filter chain (incl. exact dedup as its first rule)
    //   → MinHash-LSH near-dedup (drop the larger id of every verified
    //     pair ≥ 0.8)
    //   → benchmark decontamination (eval = doc_id % 13 == 0 of the raw
    //     corpus; eval ids leave the train set, contaminated 4-gram
    //     sharers are dropped)
    //   → per-source mixture replication (src0×2.5, src1×0.25)
    //   → token-budget bin packing of the replicated stream, keyed on
    //     unit_id = doc_id·4 + epoch (epochs < 4 by the rate map).
    // The +10000 duplicate union gives the two dedup stages real work
    // (the pl_filter_chain / pl_dedup_exact fixture).
    Gate("pl_e2e_curation", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      val u = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      // the stage boundaries are kept: surv1 feeds the LSH chain AND
      // the anti-join, train feeds the gram stream AND the survivor
      // anti-join — without the caches each reference re-runs the whole
      // upstream chain (ReuseExchange does not fire across these
      // asymmetric references — the r8 lesson; with the two caches the
      // executed plan carries 9 real shuffles, PlanAuditSpec-budgeted)
      val surv1 = cache.keep(FilterChain.c4Filter(u).filter(col("keep"))
        .select("doc_id", "text", "source"))
      val drop2 = cache.keep(Dedup.minhashLshPairs(surv1, n = 3, threshold = 0.8))
        .select(col("id2").as("doc_id")).distinct()
      val train = cache.keep(surv1.join(drop2, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 13 =!= 0))
      val evalSet = d.filter(col("doc_id") % 13 === 0)
      val contaminated = Dedup.decontaminate(train, evalSet, n = 4)
        .select(col("id").as("doc_id"))
      val surv3 = train.join(contaminated, Seq("doc_id"), "left_anti")
      val mixed = Sampling.mixtureSample(surv3, "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.25))
        .withColumn("unit_id", col("doc_id") * 4 + col("epoch"))
      Sampling.packBins(mixed, "unit_id",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 512, nBuckets = 8)
        .select(col("doc_id"), col("epoch"), col("source"), col("bucket"),
          col("bin"))
        .orderBy("doc_id", "epoch")
    }},
      // end-to-end curation: every stage's CTE chain verbatim from its own
      // gate's oracle, each reading the previous stage's survivor CTE
      // (MATERIALIZED — the near-dedup chain reads surv1 three times, and
      // DuckDB would otherwise inline the whole filter chain into each
      // reference). Stage rules identical to pl_filter_chain,
      // pl_dedup_minhash (drop = larger id of each verified pair),
      // pl_decontam (n=4 vs the doc_id % 13 eval slice), pl_mixture,
      // pl_pack — keyed here on unit_id = doc_id·4 + epoch.
      s"""WITH d AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text, source FROM documents),
         |t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w,
         |         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |  FROM d),
         |${maxRunCtes("t")},
         |feat AS (
         |  SELECT doc_id, keep_id, len(w) AS ntok,
         |    $dupFracSql AS dupfrac,
         |    $qualitySql AS q,
         |    $langScores
         |  FROM t),
         |best AS (SELECT *, greatest($langBest) AS best FROM feat),
         |fcr AS (
         |  SELECT feat.doc_id,
         |    CASE WHEN feat.doc_id != keep_id THEN 'duplicate'
         |         WHEN (CASE $langCase ELSE 'und' END) != 'en' THEN 'lang'
         |         WHEN ntok < 15 THEN 'too_short'
         |         WHEN ntok > 95 THEN 'too_long'
         |         WHEN dupfrac > 0.65 THEN 'repetitive_tokens'
         |         WHEN mr.max_run > 2 THEN 'repetitive_run'
         |         WHEN q < 0.31 THEN 'low_quality'
         |         ELSE 'ok' END AS reason
         |  FROM best feat JOIN mr ON feat.doc_id = mr.doc_id),
         |surv1 AS MATERIALIZED (
         |  SELECT d.doc_id, d.text, d.source FROM d
         |  JOIN fcr ON d.doc_id = fcr.doc_id WHERE fcr.reason = 'ok'),
         |${shingleCteOn("surv1")},
         |hs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM sh),
         |sig AS (
         |  SELECT id,
         |    $sigCols
         |  FROM hs GROUP BY id),
         |$bandCandCtes,
         |${jaccardCtes()},
         |drop2 AS (
         |  SELECT DISTINCT p.id2 AS doc_id
         |  FROM pairs p JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2
         |  WHERE p.jac >= 0.8),
         |surv2 AS MATERIALIZED (
         |  SELECT * FROM surv1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)
         |    AND doc_id % 13 != 0),
         |tg AS (SELECT doc_id, string_split(text, ' ') AS w FROM surv2),
         |gg AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    list_transform(range(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
         |  FROM tg),
         |evg AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    list_transform(range(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
         |  FROM (SELECT string_split(text, ' ') AS w FROM documents
         |        WHERE doc_id % 13 = 0)),
         |contam AS (SELECT DISTINCT gg.doc_id FROM gg JOIN evg USING (s)),
         |surv3 AS MATERIALIZED (
         |  SELECT * FROM surv2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |mxr AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2.5
         |         WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS rate,
         |    ${bucketSql("mix")} AS b
         |  FROM surv3),
         |mxc AS (
         |  SELECT doc_id, source,
         |    CAST(floor(rate) AS BIGINT) +
         |      (CASE WHEN b < floor((rate - floor(rate)) * 10000)
         |            THEN 1 ELSE 0 END) AS copies
         |  FROM mxr),
         |mixed AS (
         |  SELECT doc_id, source, CAST(e AS BIGINT) AS epoch FROM (
         |    SELECT doc_id, source, unnest(range(copies)) AS e FROM mxc)),
         |pk AS (
         |  SELECT m.doc_id, m.epoch, m.source,
         |         m.doc_id * 4 + m.epoch AS unit_id,
         |         CAST(len(string_split(s3.text, ' ')) AS BIGINT) AS ntok
         |  FROM mixed m JOIN surv3 s3 ON m.doc_id = s3.doc_id),
         |pb AS (
         |  SELECT *, CAST(('0x' || substr(md5(CAST(unit_id AS VARCHAR) || '_pack'), 1, 15)) AS BIGINT) % 8 AS bucket
         |  FROM pk),
         |pc AS (
         |  SELECT doc_id, epoch, source, bucket,
         |    coalesce(SUM(ntok) OVER (PARTITION BY bucket ORDER BY unit_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM pb)
         |SELECT doc_id, epoch, source, bucket,
         |       CAST(bucket AS VARCHAR) || '_' || CAST(cum // 512 AS VARCHAR) AS bin
         |FROM pc ORDER BY doc_id, epoch""".stripMargin),

    // pairwise matches → dedup GROUPS: connected components over the
    // (verified) minhash pairs; cid = min reachable id = the doc to keep
    Gate("pl_dedup_clusters", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      val pairs = cache.keep(Dedup.minhashLshPairs(d, n = 3, threshold = 0.8))
      cache.keep(Dedup.clusters(pairs, d.select(col("doc_id").as("id"))))
        .select(col("id"), col("cid")).orderBy("id")
    }},
      s"""$clustersCtes
         |SELECT id, min(r) AS cid FROM reach GROUP BY id ORDER BY id""".stripMargin),

    // end-to-end corpus dedup: minhash pairs → clusters → keep only
    // each cluster's representative (min id)
    Gate("pl_collapse", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      val pairs = cache.keep(Dedup.minhashLshPairs(d, n = 3, threshold = 0.8))
      Dedup.collapse(cache, d, pairs).select(col("doc_id")).orderBy("doc_id")
    }},
      // collapse = keep each cluster's representative (id == min reachable)
      s"""$clustersCtes
         |SELECT id AS doc_id FROM (
         |  SELECT id, min(r) AS cid FROM reach GROUP BY id)
         |WHERE id = cid ORDER BY doc_id""".stripMargin),

    // SoftDeDup-direction duplicate REWEIGHTING: instead of dropping a
    // near-dup cluster's non-representatives, every member keeps weight
    // 1/|cluster| — total corpus mass per distinct content stays 1, and
    // downstream samplers consume the weight column. Pair source here is
    // the cheap simhash pass (any pair producer plugs in — the API is
    // pair-agnostic); then hash-min clustering + one size join;
    // exact-rational weights cross engines bit-for-bit
    Gate("pl_soft_dedup", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      val pairs = cache.keep(Dedup.simhashPairs(d, nBits = 60, maxHamming = 3))
        .select(col("id1"), col("id2"))
      cache.keep(Dedup.softDedupWeights(d, pairs)).orderBy("doc_id")
    }},
      // soft-dedup oracle: simhash pair source (the cheap near-dup pass),
      // recursive-reachability cluster labels, a size join; weight via
      // float (not DECIMAL) division so 1/3-style values match IEEE
      s"""WITH RECURSIVE $simhashCtes,
         |fpairs AS (SELECT id1, id2 FROM cand WHERE hamming <= 3),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM fpairs
         |  UNION ALL
         |  SELECT id2, id1 FROM fpairs),
         |nodes AS (SELECT DISTINCT doc_id AS id FROM documents),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM reach JOIN edges e ON e.b = reach.id),
         |lab AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS csize
         |       FROM lab GROUP BY cid)
         |SELECT lab.id AS doc_id, sz.csize, 1e0 / sz.csize AS weight
         |FROM lab JOIN sz ON lab.cid = sz.cid
         |ORDER BY doc_id""".stripMargin),

    // CCNet-style unigram LM proxy: per-doc mean -ln p(token) under the
    // corpus unigram distribution
    Gate("pl_unigram_nll", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.unigramNll(docs(s, dir)))
        .select(col("doc_id"), round4(col("nll")).as("nll"))
        .orderBy("doc_id")
    }},
      s"""WITH tokx AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tokx GROUP BY token),
         |n AS (SELECT sum(freq) AS n FROM f)
         |SELECT doc_id, ${sroundSql("-avg(ln(freq / CAST(n.n AS DOUBLE)))")} AS nll
         |FROM tokx JOIN f USING (token), n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // bigram LM (KenLM-direction): per-doc mean -ln P(w2|w1), add-0.1
    // smoothing over corpus bigram counts
    Gate("pl_bigram_nll", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.bigramNll(docs(s, dir)))
        .select(col("doc_id"), round4(col("nll")).as("nll"))
        .orderBy("doc_id")
    }},
      s"""WITH $bigramNllCtes
         |SELECT doc_id, nll FROM nllt ORDER BY doc_id""".stripMargin),

    // trigram Stupid Backoff scoring (Brants 2007): eval-half docs
    // scored against train-half counts, so unseen trigrams actually
    // back off; per-doc NLL + how many positions backed off
    Gate("pl_sbo_nll", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.sboNll(docs(s, dir)))
        .select(col("doc_id"), round4(col("nll")).as("nll"), col("n_backoff"))
        .orderBy("doc_id")
    }},
      // Stupid Backoff oracle: identical train/eval split, positional gram
      // relations, and the same three-level CASE (doubles via explicit
      // casts and e-notation constants — the BM25 DECIMAL-literal lesson;
      // 4e-1 * 4e-1 replays Spark's alpha² double product exactly)
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tr AS (SELECT doc_id, w FROM tok WHERE doc_id % 2 = 0),
         |ev AS (SELECT doc_id, w FROM tok WHERE doc_id % 2 = 1),
         |tg AS (
         |  SELECT doc_id, w[p] AS w1, w[p+1] AS w2, w[p+2] AS w3
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS p
         |        FROM tr WHERE len(w) >= 3)),
         |bgr AS (
         |  SELECT w[p] AS w1, w[p+1] AS w2
         |  FROM (SELECT w, unnest(range(1, len(w))) AS p
         |        FROM tr WHERE len(w) >= 2)),
         |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY w1, w2, w3),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM bgr GROUP BY w1, w2),
         |c1 AS (SELECT t, count(*) AS c1
         |       FROM (SELECT unnest(w) AS t FROM tr) GROUP BY t),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_,
         |              CAST(count(DISTINCT t) AS BIGINT) AS v_
         |       FROM (SELECT unnest(w) AS t FROM tr)),
         |pe AS (
         |  SELECT doc_id, w[p] AS w1, w[p+1] AS w2, w[p+2] AS w3
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS p
         |        FROM ev WHERE len(w) >= 3)),
         |sc AS (
         |  SELECT pe.doc_id,
         |    CASE WHEN c3.c3 IS NOT NULL
         |           THEN CAST(c3.c3 AS DOUBLE) / cb12.cb
         |         WHEN cb23.cb IS NOT NULL
         |           THEN 4e-1 * cb23.cb / cu2.c1
         |         ELSE (4e-1 * 4e-1) * (coalesce(cu3.c1, 0) + 1e-1)
         |              / (nv.n_ + 1e-1 * nv.v_) END AS score,
         |    CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo
         |  FROM pe
         |  LEFT JOIN c3 ON c3.w1 = pe.w1 AND c3.w2 = pe.w2 AND c3.w3 = pe.w3
         |  LEFT JOIN cb cb12 ON cb12.w1 = pe.w1 AND cb12.w2 = pe.w2
         |  LEFT JOIN cb cb23 ON cb23.w1 = pe.w2 AND cb23.w2 = pe.w3
         |  LEFT JOIN c1 cu2 ON cu2.t = pe.w2
         |  LEFT JOIN c1 cu3 ON cu3.t = pe.w3, nv)
         |SELECT doc_id, ${sroundSql("-avg(ln(score))")} AS nll,
         |       CAST(sum(bo) AS BIGINT) AS n_backoff
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // deterministic salted-hash train/val/test assignment — reproducible
    // across engines/runs and stable under corpus growth
    Gate("pl_split", { (s, dir) =>
      Sampling.assignSplits(docs(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
         |  CASE WHEN ${bucketSql("split")} < 8000 THEN 'train'
         |       WHEN ${bucketSql("split")} < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("pl_sample", { (s, dir) =>
      Sampling.deterministicSample(docs(s, dir), "doc_id", 0.25)
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id FROM documents
         |WHERE ${bucketSql("sample")} < 2500 ORDER BY doc_id""".stripMargin),

    // context-window chunking: 12-token chunks, stride 8 (4 tokens of
    // overlap), last chunk short — per-row sequence+slice, no shuffle
    Gate("pl_chunk", { (s, dir) =>
      Sampling.chunkDocs(docs(s, dir), size = 12, stride = 8)
        .orderBy("doc_id", "chunk_id")
    },
      // context-window chunking (size 12, stride 8): integer-ceil chunk
      // count, 1-based inclusive list_slice == Spark slice(start, length)
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, n,
        |         (greatest(n - 12, 0) + 7) // 8 + 1 AS nck
        |  FROM t),
        |e AS (SELECT doc_id, w, n, unnest(range(nck)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       array_to_string(list_slice(w, chunk_id * 8 + 1, chunk_id * 8 + 12), ' ') AS chunk,
        |       CAST(least(12, n - chunk_id * 8) AS BIGINT) AS n_tokens
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin),

    // deterministic corpus shuffle into 8 training shards: salted-hash
    // shard assignment + within-shard ordering (window parallel per shard)
    Gate("pl_shuffle", { (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_shuffle'), 1, 15)) AS BIGINT) AS k
        |  FROM documents)
        |SELECT doc_id, k % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS BIGINT) - 1 AS pos
        |FROM t ORDER BY doc_id""".stripMargin),

    // weighted training-mix resampling: src0 at 2.5 epochs (2 whole
    // copies + a deterministic half-epoch), src1 at a quarter, the rest
    // at 1.0 — each copy tagged with its epoch index
    Gate("pl_mixture", { (s, dir) =>
      Sampling.mixtureSample(docs(s, dir), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.25))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2.5
         |         WHEN source = 'src1' THEN 0.25 ELSE 1.0 END AS rate,
         |    ${bucketSql("mix")} AS b
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |    CAST(floor(rate) AS BIGINT) +
         |      (CASE WHEN b < floor((rate - floor(rate)) * 10000)
         |            THEN 1 ELSE 0 END) AS copies
         |  FROM r)
         |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch FROM (
         |  SELECT doc_id, source, unnest(range(copies)) AS e FROM c)
         |ORDER BY doc_id, epoch""".stripMargin),

    // temperature-weighted mixture (UniMax direction): rates derived
    // from per-source counts at T=2, then the standard whole-copies +
    // salted-fractional-epoch replication
    Gate("pl_mixture_temp", { (s, dir) =>
      Sampling.temperatureMixture(docs(s, dir), "source", "doc_id",
        temperature = 2.0)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
      // temperature-mixture oracle: per-source c^(1/2) quantized to
      // integers BEFORE the normalizing sum (order-free), the same
      // fixed-shape rate formula, then the shared mixture replay
      s"""WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
         |pw AS (
         |  SELECT source, c,
         |    ${quantSql("power(CAST(c AS DOUBLE), 0.5)")} AS powq
         |  FROM cnt),
         |tot AS (
         |  SELECT sum(powq) AS spq,
         |         (SELECT count(*) FROM documents) AS n FROM pw),
         |rt AS (
         |  SELECT source,
         |    ${sroundSql("(CAST(n AS DOUBLE) * powq) / (CAST(spq AS DOUBLE) * c)")} AS rate
         |  FROM pw CROSS JOIN tot),
         |r AS (
         |  SELECT doc_id, d.source, rt.rate, ${bucketSql("mixT")} AS b
         |  FROM documents d JOIN rt ON d.source = rt.source),
         |cp AS (
         |  SELECT doc_id, source,
         |    CAST(floor(rate) AS BIGINT) +
         |      (CASE WHEN b < floor((rate - floor(rate)) * 10000)
         |            THEN 1 ELSE 0 END) AS copies
         |  FROM r)
         |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch FROM (
         |  SELECT doc_id, source, unnest(range(copies)) AS e FROM cp)
         |ORDER BY doc_id, epoch""".stripMargin),

    // per-doc top-3 TF-IDF keywords (smoothed idf, quantized-score
    // ranking with token tie-break)
    Gate("pl_tfidf", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.tfidfKeywords(docs(s, dir), k = 3))
        .select(col("doc_id"), col("token"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    }},
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    floor(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) * 10000
        |          + 0.5 + 1e-6) / 10000.0 AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, token, score, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // BM25 top-5 retrieval for a fixed query set (the corpus-side tf/df
    // relations shuffle once; the query terms are the broadcast side)
    Gate("pl_bm25", { (s, dir) => CacheScope.eager { cache =>
      import s.implicits._
      val qs = Seq(
        "q1" -> "spark window join",
        "q2" -> "slow query filter",
        "q3" -> "customer order line table",
        "q4" -> "stream batch merge").toDF("qid", "qtext")
      cache.keep(Retrieval.bm25TopK(docs(s, dir), qs, k = 5))
        .select(col("qid"), col("doc_id"), col("score"), col("rank"))
        .orderBy("qid", "rank")
    }},
      // BM25 oracle: every non-integer constant in e-notation (DuckDB
      // types bare decimal literals DECIMAL, not DOUBLE — decimal
      // arithmetic would diverge from Spark's IEEE doubles for inexact
      // constants like 1.2); per-term scores quantize to ints BEFORE the
      // per-doc sum so addition order can't move the hash
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |n AS (SELECT count(*) AS n FROM documents),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |q(qid, qtext) AS (VALUES
        |  ('q1', 'spark window join'), ('q2', 'slow query filter'),
        |  ('q3', 'customer order line table'), ('q4', 'stream batch merge')),
        |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS token FROM q),
        |terms AS (
        |  SELECT qt.qid, tf.doc_id,
        |    ${quantSql("""
        |      ln(1.0e0 + (CAST(n.n AS DOUBLE) - df + 0.5e0) / (df + 0.5e0))
        |        * (tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))""")} AS sq
        |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
        |  JOIN qt USING (token) CROSS JOIN st CROSS JOIN n),
        |scored AS (
        |  SELECT qid, doc_id, sum(sq) / 10000.0 AS score
        |  FROM terms GROUP BY qid, doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // per-language distinctive vocabulary by Dunning G² — the corpus
    // audit "what characterizes this slice" operator
    Gate("pl_source_terms", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Retrieval.distinctiveTerms(docs(s, dir), groupCol = "lang", k = 5))
        .orderBy("lang", "rank")
    }},
      // Dunning G² oracle: cells/margins through DOUBLE before any
      // product (mirrors Retrieval.distinctiveTerms' overflow-safe shape)
      s"""WITH tok AS (
        |  SELECT lang AS grp, unnest(string_split(text, ' ')) AS token FROM documents),
        |gt AS (SELECT grp, token, count(*) AS a FROM tok GROUP BY grp, token),
        |ttot AS (SELECT token, CAST(sum(a) AS DOUBLE) AS tt FROM gt GROUP BY token),
        |gtot AS (SELECT grp, CAST(sum(a) AS DOUBLE) AS gg FROM gt GROUP BY grp),
        |n AS (SELECT CAST(sum(a) AS DOUBLE) AS nt FROM gt),
        |cells AS (
        |  SELECT grp, token, CAST(a AS DOUBLE) AS ad, tt, gg, nt,
        |         tt - a AS b, gg - a AS c, nt - tt - gg + a AS d, nt - gg AS rest
        |  FROM gt JOIN ttot USING (token) JOIN gtot USING (grp) CROSS JOIN n),
        |scored AS (
        |  SELECT grp, token,
        |    2.0e0 * (
        |      (CASE WHEN ad > 0 THEN ad * ln(ad / (tt * gg / nt)) ELSE 0.0e0 END) +
        |      (CASE WHEN b  > 0 THEN b  * ln(b  / (tt * rest / nt)) ELSE 0.0e0 END) +
        |      (CASE WHEN c  > 0 THEN c  * ln(c  / ((nt - tt) * gg / nt)) ELSE 0.0e0 END) +
        |      (CASE WHEN d  > 0 THEN d  * ln(d  / ((nt - tt) * rest / nt)) ELSE 0.0e0 END)
        |    ) AS g2
        |  FROM cells WHERE ad / gg > b / rest),
        |ranked AS (
        |  SELECT grp, token,
        |    ${sroundSql("g2")} AS llr
        |  FROM scored),
        |topk AS (
        |  SELECT grp, token, llr,
        |    CAST(row_number() OVER (PARTITION BY grp
        |      ORDER BY llr DESC, token) AS BIGINT) AS rank
        |  FROM ranked)
        |SELECT grp AS lang, token, llr, rank FROM topk WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin),

    // winnowing fingerprints (Schleimer et al. 2003): window-min of
    // 3-gram hashes, the w×-smaller overlap-join relation
    Gate("pl_winnow", { (s, dir) =>
      Retrieval.winnowFingerprints(docs(s, dir), n = 3, w = 4)
        .orderBy("doc_id", "fp")
    },
      // winnowing oracle: positional 3-grams via lateral range unnest,
      // then the same 4-wide window-min and distinct
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(x.i AS BIGINT) - 1 AS pos,
         |         ${h60Sql("w[x.i] || ' ' || w[x.i+1] || ' ' || w[x.i+2]")} AS h
         |  FROM tok CROSS JOIN LATERAL unnest(range(1, len(w) - 1)) AS x(i)),
         |wm AS (
         |  SELECT doc_id, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= 3
         |ORDER BY doc_id, fp""".stripMargin),

    // source-pair vocabulary Jaccard: the redundancy matrix for mixture
    // design — one (source, token) distinct shuffle, a vocab-bounded
    // self-join, broadcast set sizes
    Gate("pl_source_overlap", { (s, dir) =>
      Retrieval.sourceOverlap(docs(s, dir))
    },
      // source-overlap oracle: same distinct (source, token) relation,
      // integer intersection/union sizes, one quantized division
      s"""WITH d AS (
         |  SELECT DISTINCT source AS src, unnest(string_split(text, ' ')) AS t
         |  FROM documents),
         |sz AS (SELECT src, count(*) AS n FROM d GROUP BY src),
         |ix AS (
         |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
         |  FROM d a JOIN d b ON a.t = b.t AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT ix.src_a, ix.src_b, ix.n_common,
         |  ${sroundSql("CAST(ix.n_common AS DOUBLE) / (na.n + nb.n - ix.n_common)")} AS jaccard
         |FROM ix JOIN sz na ON ix.src_a = na.src JOIN sz nb ON ix.src_b = nb.src
         |ORDER BY ix.src_a, ix.src_b""".stripMargin),

    // TextRank keyword salience (Mihalcea & Tarau 2004): integer-grid
    // PageRank over the corpus bigram graph, 5 iterations, damping 3/4 —
    // each round one |V|-row join against the static edge frame + one
    // keyed aggregation (the canonical distributed PageRank)
    Gate("pl_textrank", { (s, dir) =>
      Retrieval.textRank(docs(s, dir), iters = 5)
    },
      s"""WITH $tokCte,
         |e0 AS (
         |  SELECT w[x.i] AS src, w[x.i+1] AS dst
         |  FROM tok CROSS JOIN LATERAL unnest(range(1, len(w))) AS x(i)),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src != dst),
         |v AS MATERIALIZED (
         |  SELECT DISTINCT word
         |  FROM (SELECT src AS word FROM e UNION ALL SELECT dst FROM e)),
         |nv AS (SELECT count(*) AS n FROM v),
         |tele AS (
         |  SELECT CAST(floor(CAST(floor(100000000 / n) AS BIGINT) / 4) AS BIGINT) AS t
         |  FROM nv),
         |deg AS MATERIALIZED (SELECT src, count(*) AS o FROM e GROUP BY src),
         |r0 AS MATERIALIZED (
         |  SELECT v.word, (SELECT CAST(floor(100000000 / n) AS BIGINT) FROM nv) AS r
         |  FROM v),
         |""".stripMargin + textRankIters + s"""
         |SELECT word, r / 100000000.0 AS rank FROM r5 ORDER BY word""".stripMargin),

    // PMI collocations (Church & Hanks 1990): top-20 adjacent bigrams by
    // pointwise mutual information, min count 5 — two map-side-combined
    // count aggregations + token-keyed joins, top-k via TakeOrdered
    Gate("pl_pmi", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Retrieval.pmiCollocations(docs(s, dir), k = 20, minCount = 5))
        .orderBy("rank")
    }},
      // PMI oracle: identical count relations and the identical
      // fixed-shape scalar ((c12·Nt·Nt)/(Nb·c1·c2), left-assoc as in the
      // Spark Column chain) before the shared 4-dp quantization
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |uni AS (SELECT unnest(w) AS tkn FROM tok),
         |uc AS (SELECT tkn, count(*) AS c FROM uni GROUP BY tkn),
         |big AS (
         |  SELECT w[x.i] AS w1, w[x.i+1] AS w2
         |  FROM tok CROSS JOIN LATERAL unnest(range(1, len(w))) AS x(i)),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM uni),
         |nb AS (SELECT CAST(sum(c12) AS DOUBLE) AS nb FROM bc),
         |scored AS (
         |  SELECT w1, w2, c12,
         |    ${sroundSql("""ln((CAST(c12 AS DOUBLE) * nt.nt * nt.nt) /
         |              (nb.nb * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)))""")} AS pmi
         |  FROM bc JOIN uc u1 ON bc.w1 = u1.tkn JOIN uc u2 ON bc.w2 = u2.tkn
         |  CROSS JOIN nt CROSS JOIN nb
         |  WHERE c12 >= 5),
         |ranked AS (
         |  SELECT w1, w2, c12, pmi,
         |    CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT w1, w2, c12, pmi, rank FROM ranked
         |WHERE rank <= 20 ORDER BY rank""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): hashed-bigram bucket
    // log-ratio of a small target slice vs the raw pool, top-50 docs;
    // the ratio table is 4096 rows broadcast, per-doc weights are
    // integer sums (order-free)
    Gate("pl_dsir", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Retrieval.dsirWeights(docs(s, dir), col("source") === "src0", k = 50))
        .orderBy("doc_id")
    }},
      // DSIR oracle: same md5 bucket hashing, dense 4096-row smoothed
      // log-ratio table quantized to integer 1e-4 units, per-doc INTEGER
      // sums (order-free), one final division
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |grams AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |         CAST(${h60Sql("w[x.i] || ' ' || w[x.i+1]")} % 4096 AS INT) AS b
         |  FROM tok CROSS JOIN LATERAL unnest(range(1, len(w))) AS x(i)),
         |rawc AS (SELECT b, count(*) AS cr FROM grams GROUP BY b),
         |tgtc AS (
         |  SELECT g.b, count(*) AS ct FROM grams g
         |  JOIN documents d ON g.id = d.doc_id WHERE d.source = 'src0'
         |  GROUP BY g.b),
         |nr AS (SELECT CAST(count(*) AS DOUBLE) AS nr FROM grams),
         |ntg AS (SELECT CAST(COALESCE(sum(ct), 0) AS DOUBLE) AS ntg FROM tgtc),
         |lr AS (
         |  SELECT CAST(r.range AS INT) AS b,
         |    ${quantSql("""ln((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0) /
         |                   (ntg.ntg + 4096.0)) -
         |                ln((CAST(COALESCE(c.cr, 0) AS DOUBLE) + 1.0) /
         |                   (nr.nr + 4096.0))""")} AS lrq
         |  FROM range(4096) r
         |  LEFT JOIN tgtc t ON t.b = r.range
         |  LEFT JOIN rawc c ON c.b = r.range
         |  CROSS JOIN nr CROSS JOIN ntg),
         |wts AS (
         |  SELECT g.id AS doc_id, count(*) AS n_grams,
         |         sum(l.lrq) / 10000.0 AS weight
         |  FROM grams g JOIN lr l ON g.b = l.b GROUP BY g.id),
         |ranked AS (
         |  SELECT doc_id, n_grams, weight,
         |    CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS BIGINT) AS rank
         |  FROM wts)
         |SELECT doc_id, n_grams, weight, rank FROM ranked
         |WHERE rank <= 50 ORDER BY doc_id""".stripMargin),

    // HyperLogLog distinct tokens per source: deterministic md5-based
    // registers (engine-replayable, unlike approx_count_distinct's
    // private sketch), integer harmonic sum, fixed-shape final formula;
    // exact distinct alongside for the accuracy story
    Gate("pl_hll_distinct", { (s, dir) =>
      val t = TextAnalysis.withTokens(docs(s, dir))
        .select(col("source"), explode(col("w_")).as("token"))
      val est = Sketches.hllDistinct(t, "token", "source")
      t.groupBy("source").agg(countDistinct(col("token")).as("n_exact"))
        .join(est, "source")
        .select(col("source"), col("n_exact"), round4(col("est")).as("est"))
        .orderBy("source")
    },
      // HLL oracle: identical registers (low 8 hash bits → bucket, rho via
      // exact integer bit-length), integer harmonic sum with absent
      // registers as 2^53 each, then the same fixed-shape double formula
      // (e-notation keeps DuckDB in DOUBLE, not DECIMAL)
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
         |hs AS (SELECT source, ${h60Sql("token")} AS h FROM tok),
         |regs AS (
         |  SELECT source, h & 255 AS bucket,
         |    max(CASE WHEN (h >> 8) = 0 THEN 53
         |             ELSE 53 - length(bin(h >> 8)) END) AS M
         |  FROM hs GROUP BY source, bucket),
         |agg AS (
         |  SELECT source, count(*) AS nb,
         |    sum(CAST(round(power(2, 53 - M)) AS BIGINT)) AS zp
         |  FROM regs GROUP BY source),
         |f AS (
         |  SELECT source,
         |    CAST(zp + (256 - nb) * 9007199254740992 AS BIGINT) AS zint,
         |    256 - nb AS v
         |  FROM agg),
         |e AS (
         |  SELECT source, v,
         |    (0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)) * 65536.0e0
         |      / (CAST(zint AS DOUBLE) / 9007199254740992.0e0) AS eraw
         |  FROM f),
         |hll AS (
         |  SELECT source,
         |    CASE WHEN eraw <= 640.0e0 AND v > 0
         |         THEN 256.0e0 * ln(256.0e0 / CAST(v AS DOUBLE))
         |         ELSE eraw END AS est
         |  FROM e),
         |ex AS (SELECT source, count(DISTINCT token) AS n_exact FROM tok GROUP BY source)
         |SELECT ex.source, n_exact,
         |       ${sroundSql("est")} AS est
         |FROM ex JOIN hll USING (source) ORDER BY source""".stripMargin),

    // HLL SET ALGEBRA: vocabulary overlap between source pairs computed
    // from MERGED register sketches (bucket-wise max), never from raw
    // tokens — union by merge, intersection by inclusion-exclusion,
    // Jaccard from both. The raw corpus is read once; the pairwise stage
    // costs |groups|²·256 register rows regardless of corpus size — how
    // a catalog prices overlap between any two of 10,000 shards
    Gate("pl_hll_overlap", { (s, dir) => CacheScope.eager { cache =>
      val t = TextAnalysis.withTokens(docs(s, dir))
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("source"), explode(col("w_")).as("token"))
      cache.keep(Sketches.hllOverlap(t, "token", "source"))
        .select(col("g1"), col("g2"), round4(col("est_union")).as("est_union"),
          round4(col("est_inter")).as("est_inter"), round4(col("jacc")).as("jacc"))
        .orderBy("g1", "g2")
    }},
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents
         |  WHERE source IN ('src0','src1','src2','src3','src4')),
         |hs AS (SELECT source, ${h60Sql("token")} AS h FROM tok),
         |regs AS MATERIALIZED (
         |  SELECT source AS grp, h & 255 AS bucket,
         |    max(CASE WHEN (h >> 8) = 0 THEN 53
         |             ELSE 53 - length(bin(h >> 8)) END) AS M
         |  FROM hs GROUP BY 1, 2),
         |prs AS (
         |  SELECT a.grp AS g1, b.grp AS g2
         |  FROM (SELECT DISTINCT grp FROM regs) a
         |  JOIN (SELECT DISTINCT grp FROM regs) b ON a.grp < b.grp),
         |uregs AS (
         |  SELECT g1, g2, bucket, max(M) AS M FROM (
         |    SELECT p.g1, p.g2, r.bucket, r.M
         |    FROM prs p JOIN regs r ON r.grp = p.g1
         |    UNION ALL
         |    SELECT p.g1, p.g2, r.bucket, r.M
         |    FROM prs p JOIN regs r ON r.grp = p.g2) u
         |  GROUP BY 1, 2, 3),
         |""".stripMargin +
        hllEstCte("regs", "grp", "s") + ",\n" +
        hllEstCte("uregs", "g1, g2", "u") + "\n" +
        s"""SELECT u.g1, u.g2,
           |  ${sroundSql("u.est")} AS est_union,
           |  ${sroundSql("greatest(0.0e0, s1.est + s2.est - u.est)")} AS est_inter,
           |  ${sroundSql("greatest(0.0e0, s1.est + s2.est - u.est) / u.est")} AS jacc
           |FROM uest u
           |JOIN sest s1 ON s1.grp = u.g1
           |JOIN sest s2 ON s2.grp = u.g2
           |ORDER BY u.g1, u.g2""".stripMargin),

    // token-budget water-filling: split 80% of the corpus' tokens
    // across languages — small languages are taken whole, the big one
    // is capped at the fill level; the only corpus pass is the token
    // sum, the fill itself is a window scan over |sources| rows
    Gate("pl_budget_alloc", { (s, dir) =>
      val d = TextAnalysis.withTokens(docs(s, dir))
        .select(col("lang"), col("doc_id"), size(col("w_")).cast("long").as("ntok"))
      val total = d.agg(sum("ntok").cast("long")).collect()(0).getLong(0)
      Sampling.budgetAllocations(d, "ntok", "lang", total * 4 / 5)
        .orderBy("source")
    },
      budgetCtes + "\n" +
        """SELECT source, c_tokens, alloc, saturated
          |FROM alloc ORDER BY source""".stripMargin),

    // the allocation APPLIED: per language take docs in salted-hash
    // order until the budget is spent (greedy prefix, one rank window
    // per stratum) — the distributed half of the budget mixture
    Gate("pl_budget_sample", { (s, dir) =>
      val d = TextAnalysis.withTokens(docs(s, dir))
        .select(col("lang"), col("doc_id"), size(col("w_")).cast("long").as("ntok"))
      val total = d.agg(sum("ntok").cast("long")).collect()(0).getLong(0)
      Sampling.budgetSample(d, "ntok", "lang", "doc_id", total * 4 / 5)
        .select(col("doc_id"), col("lang"), col("ntok"))
        .orderBy("doc_id")
    },
      budgetCtes + ",\n" +
        s"""sel AS (
           |  SELECT t.doc_id, t.lang, t.ntok,
           |    CAST(sum(t.ntok) OVER (PARTITION BY t.lang
           |      ORDER BY ${h60Sql("CAST(t.doc_id AS VARCHAR) || '_budget'")},
           |               t.doc_id
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctok,
           |    a.alloc
           |  FROM tok t JOIN alloc a ON a.source = t.lang)
           |SELECT doc_id, lang, ntok FROM sel
           |WHERE ctok <= alloc ORDER BY doc_id""".stripMargin),

    // exact-count stratified sample: EXACTLY ceil(n/4) docs per source
    // (smallest salted hash wins, id tiebreak) — the per-stratum
    // precision a bucket-threshold sample only hits in expectation;
    // quota test is pure integer arithmetic, one rank window per stratum
    Gate("pl_sample_strat", { (s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "doc_id", "source",
        num = 1, den = 4)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
      // stratified-sample oracle: the same salted-hash rank and the same
      // integer quota test (rn·4 ≤ n + 3 ⇔ rn ≤ ceil(n/4))
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${h60Sql("CAST(doc_id AS VARCHAR) || '_strat'")}, doc_id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents)
         |SELECT doc_id, source FROM r
         |WHERE rn * 4 <= n * 1 + 3
         |ORDER BY doc_id""".stripMargin),

    // Z-order (Morton) layout audit: interleave 8-bit buckets of doc
    // length × source id onto the space-filling curve, range-split into
    // 32 "files", report each file's envelope in BOTH dimensions — the
    // write-side clustering that lets parquet min/max stats prune scans
    // on either predicate (Delta/Iceberg OPTIMIZE ZORDER, as plain ops)
    Gate("pl_zorder", { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("srcid", expr("CAST(substring(source, 4) AS BIGINT)"))
      val z = Layout.zValue16(
        Layout.bucket8(col("n_chars"), cell = 4),
        col("srcid") * 13)
      d.withColumn("fid", Layout.zFile(z, 32))
        .groupBy("fid")
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_len"), max(col("n_chars")).as("max_len"),
          countDistinct(col("srcid")).as("n_src"))
        .orderBy("fid")
    },
      s"""WITH b AS (
         |  SELECT doc_id, n_chars,
         |    CAST(substr(source, 4) AS BIGINT) AS srcid,
         |    least(n_chars // 4, 255) AS x,
         |    CAST(substr(source, 4) AS BIGINT) * 13 AS y
         |  FROM documents),
         |z AS (
         |  SELECT doc_id, n_chars, srcid, $zInterleave AS zv FROM b),
         |f AS (SELECT *, (zv * 32) // 65536 AS fid FROM z)
         |SELECT fid, count(*) AS n,
         |       min(n_chars) AS min_len, max(n_chars) AS max_len,
         |       count(DISTINCT srcid) AS n_src
         |FROM f GROUP BY fid ORDER BY fid""".stripMargin),

    // count-min-sketch heavy hitters: fixed 4×1024 integer grid (the
    // 100 TB memory contract), md5-derived hash family so the sketch is
    // engine-replayable; true top-20 tokens annotated with the sketch's
    // never-undershooting point estimate
    Gate("pl_cms_topk", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Sketches.cmsHeavyHitters(docs(s, dir), k = 20, depth = 4, width = 1024))
        .select(col("token"), col("cnt"), col("est"))
        .orderBy("token")
    }},
      // CMS oracle: rebuild the identical 4×1024 sketch (same md5 hash
      // family), address each candidate's 4 cells, min across rows
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |ctr AS (
         |  SELECT i, ${h60Sql("token || '#' || CAST(i AS VARCHAR)")} % 1024 AS bucket,
         |         sum(cnt) AS c
         |  FROM tc CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)
         |  GROUP BY i, bucket),
         |cand AS (SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT 20),
         |est AS (
         |  SELECT cand.token, cand.cnt, min(ctr.c) AS est
         |  FROM cand JOIN ctr
         |    ON ctr.bucket =
         |       ${h60Sql("cand.token || '#' || CAST(ctr.i AS VARCHAR)")} % 1024
         |  GROUP BY cand.token, cand.cnt)
         |SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(est AS BIGINT) AS est
         |FROM est ORDER BY token""".stripMargin),

    // context-length profile per source from the mergeable grid-quantile
    // sketch: p50/p90/p99 of per-doc token counts with ≤ cell−1 error —
    // the bounded-memory percentile contract (exact pNN buffers every
    // value; this holds O(range/cell) cells per source at any corpus
    // size, mergeable by addition)
    Gate("pl_len_quantiles", { (s, dir) =>
      val tc = TextAnalysis.withTokens(docs(s, dir))
        .select(col("source"), size(col("w_")).cast("long").as("ntok"))
      Sketches.gridQuantiles(tc, "ntok", "source", cell = 16)
        .orderBy("source", "p")
    },
      // grid-quantile sketch oracle: identical integer bucketing, cumsum
      // walk, and ceil-division thresholds — every step is integer-exact
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |b AS (
        |  SELECT source, ntok // 16 AS bucket, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY source, ntok // 16),
        |cu AS (
        |  SELECT source, bucket, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM b),
        |e AS (
        |  SELECT source, bucket, cum, n, kk.p
        |  FROM cu CROSS JOIN (VALUES (50), (90), (99)) AS kk(p)
        |  WHERE cum >= (n * p + 99) // 100)
        |SELECT source, p, min(bucket) AS bucket,
        |       (min(bucket) + 1) * 16 - 1 AS est, max(n) AS n
        |FROM e GROUP BY source, p ORDER BY source, p""".stripMargin),

    // Poisson bootstrap CI (the web-scale bootstrap: resampling-with-
    // replacement replaced by per-row Poisson(1) weights, so 50
    // replicates are ONE pass over the corpus — no per-replicate
    // shuffle of the data): weights come from a salted-hash uniform
    // pushed through the hardcoded Poisson inverse CDF on a 1e-6 grid,
    // making every replicate deterministic and engine-exact; the CI is
    // the 2.5/97.5 percentile of the 50 integer replicate means
    Gate("pl_bootstrap", { (s, dir) =>
      val B = 50
      val base = docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("x"))
      val rep = base
        .select(col("doc_id"), col("x"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("u", pmod(GraftFunctions.md5Hash60(
          concat(col("doc_id").cast("string"), lit("#"),
            col("b").cast("string"))), lit(1000000L)))
        .withColumn("w",
          when(col("u") < 367879L, 0L).when(col("u") < 735758L, 1L)
            .when(col("u") < 919698L, 2L).when(col("u") < 981011L, 3L)
            .when(col("u") < 996340L, 4L).when(col("u") < 999405L, 5L)
            .otherwise(6L))
      val reps = rep.groupBy("b")
        .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
        .filter(col("sw") > 0)
        .withColumn("meanq", expr("(swx * 10000) div sw"))
      val ranked = reps.withColumn("rk",
        row_number().over(Window.orderBy(col("meanq"), col("b"))))
      val pt = base.agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sx"))
        .select(col("n_docs"), expr("(sx * 10000) div n_docs").as("mean_pm"))
      pt.crossJoin(ranked.filter(col("rk") === 2)
          .select(col("meanq").as("lo_pm")))
        .crossJoin(ranked.filter(col("rk") === 49)
          .select(col("meanq").as("hi_pm")))
        .crossJoin(reps.agg(count(lit(1)).as("n_reps")))
    },
      // Poisson-bootstrap oracle: same salted-hash uniform, same
      // hardcoded inverse-CDF thresholds, same integer replicate means
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
         |  FROM documents),
         |rep AS (
         |  SELECT doc_id, x, b,
         |    ${h60Sql("CAST(doc_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)")}
         |      % 1000000 AS u
         |  FROM base, (SELECT unnest(range(0, 50)) AS b) bs),
         |wts AS (
         |  SELECT b, x,
         |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
         |         WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
         |         WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
         |         ELSE 6 END AS w
         |  FROM rep),
         |reps AS (
         |  SELECT b, CAST(sum(w) AS BIGINT) AS sw,
         |         CAST(sum(w * x) AS BIGINT) AS swx
         |  FROM wts GROUP BY b),
         |mq AS (SELECT b, (swx * 10000) // sw AS meanq
         |       FROM reps WHERE sw > 0),
         |rk AS (
         |  SELECT meanq,
         |    CAST(row_number() OVER (ORDER BY meanq, b) AS BIGINT) AS rk
         |  FROM mq),
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(x) AS BIGINT) AS sx FROM base)
         |SELECT n_docs, (sx * 10000) // n_docs AS mean_pm,
         |  (SELECT meanq FROM rk WHERE rk = 2) AS lo_pm,
         |  (SELECT meanq FROM rk WHERE rk = 49) AS hi_pm,
         |  (SELECT CAST(count(*) AS BIGINT) FROM mq) AS n_reps
         |FROM pt""".stripMargin),

    Gate("pl_dedup_simhash", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.simhashPairs(docs(s, dir), nBits = 60, maxHamming = 3))
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        .orderBy("id1", "id2")
    }},
      s"""WITH $simhashCtes
         |SELECT id1, id2, hamming FROM cand WHERE hamming <= 3
         |ORDER BY id1, id2""".stripMargin),

    // AUTO-radius SimHash as a DIRECT gate (r14): the probe-chosen
    // radius rides along as a column, so the radius-choice logic —
    // measured chunk-bucket collision mass at 4/3-way chunking, widest
    // radius within 64 candidates/doc — is oracle-pinned on its own
    // before the pl_neardup_edit / pl_neardup_eval composites consume
    // it. This is the at-scale sibling of the fixed-radius
    // pl_dedup_simhash truth gate, whose radius-3 candidate set grows
    // birthday-rate with the corpus.
    Gate("pl_dedup_simhash_auto", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Dedup.simhashPairsAuto(docs(s, dir)))
        .select(col("id1"), col("id2"),
          col("hamming").cast("long").as("hamming"), col("radius"))
        .orderBy("id1", "id2")
    }},
      // direct auto-radius gate: pairs within the probe-chosen radius,
      // with the choice itself (radius = chunks − 1) as a column
      s"""WITH $simhashAutoCtes
         |SELECT id1, id2, hamming,
         |       CAST((SELECT c - 1 FROM cprm) AS BIGINT) AS radius
         |FROM cand WHERE hamming <= (SELECT c - 1 FROM cprm)
         |ORDER BY id1, id2""".stripMargin),

    // URL-canonicalization dedup: the crawl-side first-stage dedup that
    // collapses scheme/case/www/trailing-slash/tracking-param variants
    // of one page before any content hashing. The corpus has no URL
    // column, so a deterministic per-doc URL exercising every
    // canonicalization rule is synthesized in-plan (the pl_redact
    // marker convention); docs without a URL key to themselves. One
    // canonical-key groupBy + a join back — both shuffles on the canon
    // key, per-row regex work is codegen'd.
    Gate("pl_dedup_url", { (s, dir) =>
      val id = col("doc_id")
      val m = pmod(id, lit(40)).cast("string")
      val host = when(pmod(id, lit(3)) === 0, lit("WWW.Example.com"))
        .when(pmod(id, lit(3)) === 1, lit("example.com"))
        .otherwise(lit("www.example.COM"))
      val url = when(pmod(id, lit(10)) === 9, lit(""))
        .otherwise(concat(
          lit("https://"), host, lit("/p/"), m,
          when(pmod(id, lit(4)) === 0, lit("/")).otherwise(lit("")),
          lit("?id="), m,
          lit("&utm_campaign=c"), id.cast("string"),
          when(pmod(id, lit(6)) === 0,
            concat(lit("&gclid=g"), id.cast("string"))).otherwise(lit("")),
          when(pmod(id, lit(5)) === 0,
            concat(lit("#sec"), id.cast("string"))).otherwise(lit(""))))
      val c = docs(s, dir).select(id, url.as("url"))
        .withColumn("canon",
          when(col("url") === "", concat(lit("~"), id.cast("string")))
            .otherwise(TextAnalysis.canonicalUrl(col("url"))))
      val keep = c.groupBy("canon").agg(min(id).as("keeper"))
      c.join(keep, Seq("canon"))
        .select(id, col("canon"), (id === col("keeper")).as("keep"))
        .orderBy("doc_id")
    },
      // URL-dedup oracle: the same synthetic URL construction and the
      // same canonicalization steps, spelled as chained CTEs
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 9 THEN '' ELSE
         |      'https://' ||
         |      (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.com'
         |            WHEN doc_id % 3 = 1 THEN 'example.com'
         |            ELSE 'www.example.COM' END) ||
         |      '/p/' || CAST(doc_id % 40 AS VARCHAR) ||
         |      (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
         |      '?id=' || CAST(doc_id % 40 AS VARCHAR) ||
         |      '&utm_campaign=c' || CAST(doc_id AS VARCHAR) ||
         |      (CASE WHEN doc_id % 6 = 0
         |            THEN '&gclid=g' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
         |      (CASE WHEN doc_id % 5 = 0
         |            THEN '#sec' || CAST(doc_id AS VARCHAR) ELSE '' END)
         |    END AS url
         |  FROM documents),
         |c0 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u0
         |       FROM d WHERE url != ''),
         |c1 AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(regexp_extract(u0, '^[a-zA-Z]+://([^/?#]+)', 1)),
         |                   '^www\\.', '') AS host,
         |    regexp_replace(u0, '^[a-zA-Z]+://[^/?#]+', '') AS rest
         |  FROM c0),
         |c2 AS (
         |  SELECT doc_id, host,
         |    regexp_replace(split_part(rest, '?', 1), '/+$$', '') AS path,
         |    regexp_extract(rest, '\\?(.*)$$', 1) AS q
         |  FROM c1),
         |c3 AS (
         |  SELECT doc_id,
         |    host || path || (CASE WHEN kq = '' THEN '' ELSE '?' || kq END) AS canon
         |  FROM (
         |    SELECT doc_id, host, path,
         |      array_to_string(list_filter(string_split(q, '&'),
         |        p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
         |                  OR starts_with(p, 'gclid='))), '&') AS kq
         |    FROM c2)),
         |cc AS (
         |  SELECT doc_id, canon FROM c3
         |  UNION ALL
         |  SELECT doc_id, '~' || CAST(doc_id AS VARCHAR) FROM d WHERE url = ''),
         |k AS (SELECT canon, min(doc_id) AS keeper FROM cc GROUP BY canon)
         |SELECT cc.doc_id, cc.canon, cc.doc_id = k.keeper AS keep
         |FROM cc JOIN k ON cc.canon = k.canon
         |ORDER BY cc.doc_id""".stripMargin),

    // ---- similarity search ----------------------------------------------
    Gate("pl_knn", { (s, dir) =>
      val e = emb(s, dir)
      Similarity.bruteKnn(e, e.filter(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      s"""WITH q AS (
         |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (
         |  SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
         |  FROM embeddings),
         |s AS (
         |  SELECT qid, nid, $cosExpr AS cos
         |  FROM q JOIN c ON qid != nid),
         |r AS (
         |  SELECT qid, nid, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM s)
         |SELECT qid, nid, ${sroundSql("cos")} AS cos FROM r WHERE rk <= 5
         |ORDER BY qid, nid""".stripMargin),

    Gate("pl_neardup_cos", { (s, dir) =>
      Similarity.nearDupPairs(emb(s, dir), threshold = 0.45)
        .select(col("id1"), col("id2"), round4(col("cos")).as("cos"))
        .orderBy("id1", "id2")
    },
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT a.vec_id AS id1, b.vec_id AS id2,
         |       ${sroundSql(
          "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))")} AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
         |ORDER BY id1, id2""".stripMargin),

    // Johnson–Lindenstrauss ±1 random projection (Achlioptas 2003):
    // 64 → 16 dims, md5-derived sign matrix, integer term sums
    Gate("pl_rproj", { (s, dir) =>
      Similarity.randomProject(emb(s, dir), outDim = 16, dim = 64)
        .select(col("vec_id"), col("j"), round4(col("y")).as("y"))
        .orderBy("vec_id", "j")
    },
      // JL oracle: rebuild the identical md5-parity sign matrix from
      // (i, j), integer term sums, the same de-scale division chain
      s"""WITH p AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x ->
         |      ${quantSql("CAST(x AS DOUBLE)")}) AS vq
         |  FROM embeddings),
         |sgn AS (
         |  SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
         |    CASE WHEN ${h60Sql("CAST(i.range AS VARCHAR) || '#' || CAST(j.range AS VARCHAR)")} % 2 = 0
         |         THEN 1 ELSE -1 END AS s
         |  FROM range(64) i CROSS JOIN range(16) j),
         |terms AS (
         |  SELECT p.vec_id, x.j, sum(p.vq[x.i + 1] * x.s) AS yq
         |  FROM p CROSS JOIN sgn x GROUP BY p.vec_id, x.j)
         |SELECT vec_id, CAST(j AS BIGINT) AS j,
         |       ${sroundSql("CAST(yq AS DOUBLE) / 10000.0 / sqrt(16.0)")} AS y
         |FROM terms ORDER BY vec_id, j""".stripMargin),

    // PCA top component: distributed dim²-moment aggregation (the only
    // corpus pass), exact-BigInt power iteration on the driver's
    // dim²-bounded covariance (the centroid-collect contract), then a
    // per-row integer-dot projection — the data-driven projection next
    // to pl_rproj's random one; projections are the 1-D embedding used
    // for binning/curricula
    Gate("pl_pca", { (s, dir) =>
      val e = emb(s, dir)
      val d = Similarity.pca1Direction(e)
      Similarity.pca1Project(e, d)
        .select(col("vec_id"), round4(col("pc1")).as("pc1"))
        .orderBy("vec_id")
    },
      s"""WITH vq AS MATERIALIZED (
         |  SELECT vec_id, CAST(j.range AS INT) AS j,
         |    ${quantSql("CAST(embedding[CAST(j.range AS INT) + 1] AS DOUBLE)")} AS v
         |  FROM embeddings CROSS JOIN range(64) j),
         |nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM vq),
         |sj AS (SELECT j, CAST(sum(v) AS HUGEINT) AS s FROM vq GROUP BY j),
         |sjk AS (
         |  SELECT a.j AS j, b.j AS k, CAST(sum(a.v * b.v) AS HUGEINT) AS s
         |  FROM vq a JOIN vq b USING (vec_id) GROUP BY 1, 2),
         |cm AS MATERIALIZED (
         |  SELECT s2.j, s2.k, nn.n * s2.s - x1.s * x2.s AS c
         |  FROM sjk s2 CROSS JOIN nn
         |  JOIN sj x1 ON x1.j = s2.j JOIN sj x2 ON x2.j = s2.k),
         |x0 AS (
         |  SELECT CAST(j.range AS INT) AS j, CAST(10000 AS HUGEINT) AS x
         |  FROM range(64) j),
         |${pcaIter(1)},
         |${pcaIter(2)},
         |${pcaIter(3)},
         |${pcaIter(4)},
         |fz AS (SELECT min(j) AS j0 FROM x4 WHERE x != 0),
         |sg AS (
         |  SELECT CASE WHEN (SELECT x4.x FROM x4, fz WHERE x4.j = fz.j0) < 0
         |              THEN -1 ELSE 1 END AS sg),
         |dir AS (SELECT j, x * sg AS x FROM x4, sg)
         |SELECT vq.vec_id,
         |       ${sroundSql("CAST(sum(vq.v * dir.x) AS DOUBLE) / 100000000.0e0")}
         |         AS pc1
         |FROM vq JOIN dir USING (j)
         |GROUP BY vq.vec_id ORDER BY vq.vec_id""".stripMargin),

    // per-dimension z-scoring: integer moments (one map-side-combined
    // shuffle), 64-row moment frame broadcast back, one fixed-shape
    // IEEE chain — the whitening-lite pass before SQ8/PQ when a
    // dimension's global scale is skewed
    Gate("pl_emb_standardize", { (s, dir) =>
      Similarity.standardize(emb(s, dir))
        .select(col("vec_id"), col("j"), round4(col("z")).as("z"))
        .orderBy("vec_id", "j")
    },
      // standardize oracle: identical integer moments and the identical
      // μ/σ/z chain per dimension
      s"""WITH vq AS MATERIALIZED (
         |  SELECT vec_id, CAST(j.range AS INT) AS j,
         |    ${quantSql("CAST(embedding[CAST(j.range AS INT) + 1] AS DOUBLE)")} AS v
         |  FROM embeddings CROSS JOIN range(64) j),
         |mom AS (
         |  SELECT j, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(v) AS BIGINT) AS s1,
         |         CAST(sum(v * v) AS BIGINT) AS s2
         |  FROM vq GROUP BY j),
         |zz AS (
         |  SELECT vq.vec_id, vq.j,
         |         CAST(s1 AS DOUBLE) / n AS mu,
         |         CAST(s2 AS DOUBLE) / n
         |           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS vr,
         |         vq.v
         |  FROM vq JOIN mom ON mom.j = vq.j)
         |SELECT vec_id, CAST(j AS BIGINT) AS j,
         |       ${sroundSql("(CAST(v AS DOUBLE) - mu) / sqrt(vr)")} AS z
         |FROM zz WHERE vr > 0
         |ORDER BY vec_id, j""".stripMargin),

    // SQ8 kNN: int8-code cosine (scales cancel), exact integer dots —
    // the 4×-smaller-scan rung between brute force and PQ
    Gate("pl_knn_sq8", { (s, dir) =>
      val e = emb(s, dir)
      Similarity.sq8Knn(e, e.filter(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      // SQ8 oracle: replay embedPrep's symmetric int8 quantization
      // (floor(x·127/max|x| + 0.5) over the double-cast vector), then the
      // identical integer-dot cosine and ranking
      s"""WITH p AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |z AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> floor(x * 127.0 /
         |      list_max(list_transform(v, y -> abs(y))) + 0.5)) AS c
         |  FROM p),
         |q AS (SELECT vec_id AS qid, c AS qv FROM z WHERE vec_id < 10),
         |n AS (SELECT vec_id AS nid, c AS nv FROM z),
         |s AS (
         |  SELECT qid, nid, $cosExpr AS cos
         |  FROM q JOIN n ON qid != nid),
         |r AS (
         |  SELECT qid, nid, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM s)
         |SELECT qid, nid, ${sroundSql("cos")} AS cos FROM r WHERE rk <= 5
         |ORDER BY qid, nid""".stripMargin),

    // IVF ANN — deterministic centroids (vec_id % 16), 3-probe search;
    // oracle replays the exact assign/probe/rank pipeline in SQL.
    Gate("pl_knn_ivf", { (s, dir) =>
      val e = emb(s, dir)
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 10), k = 5,
        centStep = sqrtSized(e, 16), nProbe = 3)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      ivfSql("q.vec_id < 10", 3)),

    // IVF index PERSISTENCE round-trip: build the index, WRITE the two
    // tables a production deployment persists (centroids + inverted
    // lists, cid-partitionable), READ them back, and search from the
    // reloaded tables — the batch-over-batch read path a 100 TB
    // deployment actually exercises (pl_dedup_incr proves the dedup
    // half of the same story). Distinct query slice + probe width from
    // pl_knn_ivf so the two gates can't mask each other; the oracle
    // replays the same assign/probe/rank pipeline (parquet round-trips
    // doubles exactly, so persistence must be value-invisible).
    Gate("pl_ivf_index", { (s, dir) =>
      val e = emb(s, dir)
      val root = ivfGateRoot
      val (cent, assigned) = Similarity.ivfIndex(e, centStep = sqrtSized(e, 16))
      cent.write.mode("overwrite").parquet(s"$root/centroids")
      assigned.write.mode("overwrite").parquet(s"$root/lists")
      Similarity.ivfSearch(
        s.read.parquet(s"$root/centroids"),
        s.read.parquet(s"$root/lists"),
        e.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        k = 5, nProbe = 2)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      ivfSql("q.vec_id >= 10 AND q.vec_id < 20", 2)),

    // LSH-bucketed ANN — the scale path; hyperplanes are md5-derived so
    // the oracle replays bucket assignment exactly (plus a brute-force
    // recall check in PipelineSpec).
    Gate("pl_knn_lsh", { (s, dir) =>
      val e = emb(s, dir)
      Similarity.lshKnn(e, e.filter(col("vec_id") < 50), k = 5, dim = 64, nPlanes = 4)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      // Replays Similarity.lshKnn(dim=64, nPlanes=4, nTables=4) exactly:
      // plane component (p, d) = (md5-hex60(p || '_' || d) % 2001 - 1000) /
      // 1000 (Similarity.planeComponent), bucket bit p set iff dot > 0.
      // IEEE addition order matches list_dot_product, so the sign tests —
      // and hence the buckets — are bit-identical across engines.
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |planes AS (
         |  SELECT t.tbl, p.p,
         |    list_transform(range(0, 64), d ->
         |      (CAST(('0x' || substr(md5(CAST(t.tbl * 4 + p.p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0) AS pv
         |  FROM (SELECT unnest(range(0, 4)) AS tbl) t,
         |       (SELECT unnest(range(0, 4)) AS p) p),
         |bkt AS (
         |  SELECT e.vec_id, pl.tbl,
         |         SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
         |                  THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS b
         |  FROM e, planes pl
         |  GROUP BY e.vec_id, pl.tbl),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM bkt q JOIN bkt c ON q.tbl = c.tbl AND q.b = c.b
         |   AND q.vec_id != c.vec_id
         |  WHERE q.vec_id < 50),
         |s AS (
         |  SELECT qid, nid, ${cosOf("eq.v", "en.v")} AS cos
         |  FROM cand JOIN e eq ON qid = eq.vec_id JOIN e en ON nid = en.vec_id),
         |r AS (
         |  SELECT qid, nid, cos,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM s)
         |SELECT qid, nid, ${sroundSql("cos")} AS cos FROM r WHERE rk <= 5
         |ORDER BY qid, nid""".stripMargin),

    // product quantization: per-subspace Lloyd codebooks (m=4 × 16 dims,
    // k=8, 2 iters — the kmeans gate's deterministic recipe per
    // subspace), corpus encoded to 4 codes; codes ARE the check
    Gate("pl_pq_encode", { (s, dir) =>
      val e = emb(s, dir)
      val books = Similarity.pqCodebooks(e, m = 4, k = 8, iters = 2)
      Similarity.pqEncode(e, books)
        .select(col("id").as("vec_id"),
          element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 2).as("c1"),
          element_at(col("codes"), 3).as("c2"),
          element_at(col("codes"), 4).as("c3"))
        .orderBy("vec_id")
    },
      pqChainSql(4, 16, 8) + s"""
SELECT e.id AS vec_id, k0.cid AS c0, k1.cid AS c1, k2.cid AS c2, k3.cid AS c3
FROM e JOIN code_0 k0 ON k0.id = e.id JOIN code_1 k1 ON k1.id = e.id
  JOIN code_2 k2 ON k2.id = e.id JOIN code_3 k3 ON k3.id = e.id
ORDER BY vec_id"""),

    // ADC search over the PQ codes: exact query vs m table lookups per
    // corpus row (fixed left-to-right subspace sum so the oracle replays
    // the association order)
    Gate("pl_knn_pq", { (s, dir) =>
      val e = emb(s, dir)
      val books = Similarity.pqCodebooks(e, m = 4, k = 8, iters = 2)
      val codes = Similarity.pqEncode(e, books)
      Similarity.pqAdcKnn(codes, e.filter(col("vec_id") < 10), books, k = 5)
        .select(col("qid"), col("nid"), round4(col("adc")).as("adc"))
        .orderBy("qid", "nid")
    },
      // ADC: per-subspace (query, centroid) distance tables + the codes;
      // the subspace sum keeps the gate's left-to-right association
      pqChainSql(4, 16, 8) +
        (0 until 4).map { s =>
          val a = s * 16 + 1
          val b = (s + 1) * 16
          s""",
q_$s AS (SELECT id, v[$a:$b] AS v FROM e WHERE id < 10),
t_$s AS MATERIALIZED (SELECT q.id AS qid, c.cid,
  list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, c.cv)
    + list_dot_product(c.cv, c.cv) AS d
  FROM q_$s q, c2_$s c)"""
        }.mkString + s""",
adc AS (
  SELECT t0.qid, k0.id AS nid, ((t0.d + t1.d) + t2.d) + t3.d AS adc
  FROM code_0 k0
  JOIN code_1 k1 ON k1.id = k0.id
  JOIN code_2 k2 ON k2.id = k0.id
  JOIN code_3 k3 ON k3.id = k0.id
  JOIN t_0 t0 ON t0.cid = k0.cid
  JOIN t_1 t1 ON t1.cid = k1.cid AND t1.qid = t0.qid
  JOIN t_2 t2 ON t2.cid = k2.cid AND t2.qid = t0.qid
  JOIN t_3 t3 ON t3.cid = k3.cid AND t3.qid = t0.qid
  WHERE k0.id != t0.qid),
r AS (
  SELECT qid, nid, adc,
         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid) AS rk
  FROM adc)
SELECT qid, nid, ${sroundSql("adc")} AS adc FROM r WHERE rk <= 5
ORDER BY qid, nid"""),

    // IVF-PQ (IVFADC): coarse lists + residual PQ codes, queries probe
    // their 2 nearest of 8 lists and ADC-scan only those codes — the
    // billion-scale composite (routing bounds the scan, codes bound the
    // bytes); frames-shaped, no driver collect, plan O(1) in Q
    Gate("pl_knn_ivfpq", { (s, dir) => CacheScope.eager { cache =>
      val e = emb(s, dir)
      cache.keep(Similarity.ivfPqKnn(e, e.filter(col("vec_id") < 10), k = 5))
        .select(col("qid"), col("nid"), round4(col("adc")).as("adc"))
        .orderBy("qid", "nid")
    }},
      ivfPqChain + s"""
SELECT qid, nid, ${sroundSql("adc")} AS adc FROM r WHERE rk <= 5
ORDER BY qid, nid"""),

    // ANN + exact re-rank (the FAISS refine composite): IVF-PQ proposes
    // 20 candidates per query from the codes index, only those 20 fetch
    // full vectors for an exact cosine top-5 — approximate recall cost,
    // exact final ordering, |cand| vector reads instead of the corpus
    Gate("pl_knn_rerank", { (s, dir) => CacheScope.eager { cache =>
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 10)
      val cand = cache.keep(Similarity.ivfPqKnn(e, qs, k = 20))
      Similarity.rerankCosine(cand, e, qs, k = 5)
        .select(col("qid"), col("nid"), round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    }},
      // re-rank oracle: the same candidate chain capped at 20, then exact
      // cosine from the raw vectors and a fresh top-5 (raw-cos ordering,
      // nid tiebreak — the pl_knn convention)
      ivfPqChain + s"""
, rr AS (
  SELECT r.qid, r.nid,
         ${cosOf("q.v", "n.v")} AS cos
  FROM r JOIN e q ON q.id = r.qid JOIN e n ON n.id = r.nid
  WHERE r.rk <= 20),
rr2 AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk2
  FROM rr)
SELECT qid, nid, ${sroundSql("cos")} AS cos FROM rr2 WHERE rk2 <= 5
ORDER BY qid, nid"""),

    // ANN quality harness: recall@5 of the IVF probe path against the
    // brute-force exact top-5 — the measure-don't-guess gate that prices
    // what the probe bound costs in recall; integer hits, exact ratio
    Gate("pl_ann_recall", { (s, dir) =>
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteKnn(e, qs, k = 5).select(col("qid"), col("nid"))
      val approx = Similarity.ivfKnn(e, qs, k = 5, centStep = sqrtSized(e, 16))
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      brute.join(approx, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(count(col("hit")).as("n_hit"))
        .withColumn("recall", col("n_hit") / 5.0)
        .orderBy("qid")
    },
      // recall@5 oracle: brute top-5 and the IVF probe top-5 replayed side
      // by side, hits counted per query — all-integer until the final /5.0
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |bs AS (
         |  SELECT qid, vec_id AS nid, ${cosOf("qv", "v")} AS cos
         |  FROM q JOIN e ON qid != vec_id),
         |br AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM bs),
         |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id %
         |  (SELECT greatest(16, CAST(floor(sqrt(count(*))) AS BIGINT))
         |   FROM embeddings) = 0),
         |asg AS (
         |  SELECT nid, nv, cid FROM (
         |    SELECT a.vec_id AS nid, a.v AS nv, c.cid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY ${cosOf("a.v", "c.cv")} DESC, c.cid) AS rk
         |    FROM e a, cent c) WHERE rk = 1),
         |probe AS (
         |  SELECT qid, qv, cid FROM (
         |    SELECT q.qid, q.qv, c.cid,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${cosOf("q.qv", "c.cv")} DESC, c.cid) AS rk
         |    FROM q, cent c) WHERE rk <= 3),
         |ivs AS (
         |  SELECT qid, nid, ${cosOf("qv", "nv")} AS cos
         |  FROM probe JOIN asg USING (cid) WHERE qid != nid),
         |ivr AS (
         |  SELECT qid, nid,
         |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM ivs)
         |SELECT b.qid, CAST(count(i.nid) AS BIGINT) AS n_hit,
         |       count(i.nid) / 5.0 AS recall
         |FROM br b LEFT JOIN (SELECT qid, nid FROM ivr WHERE rk <= 5) i
         |  ON i.qid = b.qid AND i.nid = b.nid
         |WHERE b.rk <= 5
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin),

    // embedding preprocessing: L2 norm + unit vector + symmetric int8
    // quantization, summarized as scalars (array columns don't hash)
    Gate("pl_embed_prep", { (s, dir) =>
      Similarity.embedPrep(emb(s, dir))
        .select(col("vec_id"),
          round4(col("norm")).as("norm"),
          round4(element_at(col("unit"), 1)).as("unit1"),
          array_min(col("q")).as("qmin"),
          array_max(col("q")).as("qmax"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"))
        .orderBy("vec_id")
    },
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |p AS (
         |  SELECT vec_id, v,
         |         sqrt(list_dot_product(v, v)) AS norm,
         |         list_max(list_transform(v, x -> abs(x))) AS maxabs
         |  FROM e),
         |q AS (
         |  SELECT vec_id, norm, v,
         |         list_transform(v, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS BIGINT)) AS qv
         |  FROM p)
         |SELECT vec_id,
         |  ${sroundSql("norm")} AS norm,
         |  ${sroundSql("v[1] / norm")} AS unit1,
         |  list_min(qv) AS qmin,
         |  list_max(qv) AS qmax,
         |  CAST(list_sum(qv) AS BIGINT) AS qsum
         |FROM q ORDER BY vec_id""".stripMargin),

    // Lloyd k-means (k=8, 2 iterations, deterministic first-k init) —
    // corpus clustering for curation; oracle replays both iterations
    Gate("pl_kmeans", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Similarity.kmeans(emb(s, dir), k = 8, iters = 2))
        .orderBy("id")
    }},
      s"""WITH e AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
         |${kmAssign("c0", "a1")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2")},
         |${kmUpdate("a2", "c1", "c2")},
         |${kmAssign("c2", "a3")}
         |SELECT id, cid FROM a3 ORDER BY id""".stripMargin),

    // clustering quality report: per-cluster size + inertia on the
    // integer grid — the check before trusting cluster-based dedup or
    // IVF routing; one assignment pass + one map-side-combined agg
    Gate("pl_cluster_stats", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Similarity.clusterStats(emb(s, dir), k = 8, iters = 2))
        .orderBy("cid")
    }},
      // cluster-stats oracle: the kmeans replay + per-point squared
      // distance to the assigned centroid, quantized per point BEFORE the
      // sum (order-free integer inertia)
      s"""WITH e AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
         |${kmAssign("c0", "a1")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2")},
         |${kmUpdate("a2", "c1", "c2")},
         |${kmAssign("c2", "a3")},
         |j AS (
         |  SELECT a.cid,
         |    list_transform(range(1, 65), d -> a.v[d] - c.cv[d]) AS dv
         |  FROM a3 a JOIN c2 c ON a.cid = c.cid),
         |d2 AS (
         |  SELECT cid,
         |    ${quantSql("list_dot_product(dv, dv)")} AS d2q
         |  FROM j)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(d2q) AS BIGINT) / 10000.0 AS inertia
         |FROM d2 GROUP BY cid ORDER BY cid""".stripMargin),

    // centroid-based silhouette: cohesion-vs-separation score per
    // cluster — the can-these-clusters-be-trusted read before
    // SemDeDup/IVF routing bets on them; one assignment pass against
    // k broadcast centroids (the O(n²) pairwise silhouette is the
    // thing this variant exists to avoid at corpus scale)
    Gate("pl_silhouette", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(Similarity.silhouette(emb(s, dir), k = 8, iters = 2))
        .select(col("cid"), col("n"), round4(col("sil")).as("sil"))
        .orderBy("cid")
    }},
      // silhouette oracle: the kmeans replay, every point's squared
      // distance to ALL centroids (8-row cross join), a = own, b = min
      // other; s on the 1e-6 grid before the order-free per-cluster mean
      s"""WITH e AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
         |${kmAssign("c0", "a1")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2")},
         |${kmUpdate("a2", "c1", "c2")},
         |${kmAssign("c2", "a3")},
         |dd AS (
         |  SELECT a.id, a.cid, c.cid AS ccid,
         |    list_dot_product(
         |      list_transform(range(1, 65), d -> a.v[d] - c.cv[d]),
         |      list_transform(range(1, 65), d -> a.v[d] - c.cv[d])) AS d2
         |  FROM a3 a CROSS JOIN c2 c),
         |per AS (
         |  SELECT id, cid,
         |    max(CASE WHEN cid = ccid THEN d2 END) AS a2,
         |    min(CASE WHEN cid <> ccid THEN d2 END) AS b2
         |  FROM dd GROUP BY id, cid),
         |sv AS (
         |  SELECT cid,
         |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) = 0 THEN 0.0
         |         ELSE (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
         |    END AS s
         |  FROM per),
         |q AS (SELECT cid, CAST(floor(s * 1e6 + 0.5) AS BIGINT) AS sq FROM sv)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |  ${sroundSql("CAST(sum(sq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6)")} AS sil
         |FROM q GROUP BY cid ORDER BY cid""".stripMargin),

    // MMR diversified top-5 from the query's 20 ANN candidates
    // (Carbonell & Goldstein 1998): greedy relevance-minus-redundancy
    // on quantized scores; candidate generation and the pairwise-sim
    // frame are distributed, the greedy loop runs on the bounded
    // candidate set
    Gate("pl_mmr", { (s, dir) =>
      Similarity.mmrSelect(emb(s, dir), queryId = 0L, kCand = 20, k = 5)
        .orderBy("rank")
    },
      // MMR oracle: the brute-knn candidate chain capped at 20, the
      // symmetric quantized pair-sim relation, then the five greedy picks
      // unrolled as chained CTEs (argmax per step, smaller-nid ties)
      {
        val steps = (2 to 5).map { i =>
          s""",
m$i AS (
  SELECT c.nid, c.relq - (
    SELECT max(s.simq) FROM sims s
    WHERE s.x = c.nid AND s.y IN (SELECT nid FROM pk${i - 1})) AS score
  FROM cand c WHERE c.nid NOT IN (SELECT nid FROM pk${i - 1})),
p$i AS (SELECT nid, score FROM m$i ORDER BY score DESC, nid LIMIT 1),
pk$i AS (SELECT nid FROM pk${i - 1} UNION ALL SELECT nid FROM p$i)"""
        }.mkString
        s"""WITH e AS (
           |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |q AS (SELECT v FROM e WHERE id = 0),
           |sc AS (
           |  SELECT e.id AS nid, ${cosOf("e.v", "q.v")} AS cos
           |  FROM e, q WHERE e.id != 0),
           |cand AS MATERIALIZED (
           |  SELECT nid, ${quantSql("cos")} AS relq
           |  FROM (SELECT nid, cos,
           |          row_number() OVER (ORDER BY cos DESC, nid) AS rk FROM sc)
           |  WHERE rk <= 20),
           |cv AS MATERIALIZED (
           |  SELECT e.id AS nid, e.v FROM e JOIN cand ON cand.nid = e.id),
           |sp AS MATERIALIZED (
           |  SELECT a.nid AS x, b.nid AS y,
           |    ${quantSql(cosOf("a.v", "b.v"))}
           |      AS simq
           |  FROM cv a JOIN cv b ON a.nid < b.nid),
           |sims AS MATERIALIZED (
           |  SELECT x, y, simq FROM sp UNION ALL SELECT y, x, simq FROM sp),
           |p1 AS (SELECT nid, relq AS score FROM cand ORDER BY relq DESC, nid LIMIT 1),
           |pk1 AS (SELECT nid FROM p1)""".stripMargin + steps + s"""
SELECT * FROM (
  SELECT 1 AS rank, nid, score FROM p1
  UNION ALL SELECT 2, nid, score FROM p2
  UNION ALL SELECT 3, nid, score FROM p3
  UNION ALL SELECT 4, nid, score FROM p4
  UNION ALL SELECT 5, nid, score FROM p5)
ORDER BY rank"""
      }),

    // embedding outlier scan: bottom-50 vectors by cosine to the
    // integer-grid corpus centroid — one map-side-combined d-dim sum
    // pass, broadcast centroid literal, TakeOrdered bottom-k
    Gate("pl_embed_outlier", { (s, dir) =>
      Similarity.centroidOutliers(emb(s, dir), k = 50)
        .orderBy("rank")
    },
      // centroid-outlier oracle: identical integer pipeline — 1e-4
      // component grid, per-dim INTEGER sums (order-free), floor-mean
      // centroid, integer dot products through the one fixed float shape
      // dot/(sqrt(q2)*sqrt(m2)), 1e-4-rounded before ranking
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> ${quantSql("CAST(x AS DOUBLE)")}) AS q
         |  FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM q),
         |cent AS MATERIALIZED (
         |  SELECT x.i AS i,
         |    CAST(floor(sum(q[x.i]) / (SELECT n FROM nn)) AS BIGINT) AS m
         |  FROM q CROSS JOIN LATERAL unnest(range(1, len(q) + 1)) AS x(i)
         |  GROUP BY x.i),
         |cl AS (SELECT list(m ORDER BY i) AS mv, sum(m * m) AS m2 FROM cent),
         |sc AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * mv[i])) AS dot,
         |    list_sum(list_transform(q, x -> x * x)) AS q2
         |  FROM q CROSS JOIN cl),
         |sc2 AS (
         |  SELECT vec_id, CASE WHEN q2 = 0 THEN 0.0 ELSE
         |    ${sroundSql("""CAST(dot AS DOUBLE)
         |      / (sqrt(CAST(q2 AS DOUBLE)) * sqrt(CAST(cl.m2 AS DOUBLE)))""")} END AS cos_centroid
         |  FROM sc CROSS JOIN cl),
         |ranked AS (
         |  SELECT vec_id, cos_centroid,
         |    CAST(row_number() OVER (ORDER BY cos_centroid, vec_id) AS BIGINT) AS rank
         |  FROM sc2)
         |SELECT vec_id, cos_centroid, rank FROM ranked
         |WHERE rank <= 50 ORDER BY rank""".stripMargin),

    // SemDeDup: the pl_kmeans clustering + within-cluster cosine pairs
    // ≥ 0.4 + hash-min components; cid = kept representative
    Gate("pl_semdedup", { (s, dir) => CacheScope.eager { cache =>
      val e = emb(s, dir)
      cache.keep(Similarity.semanticDedup(e, k = sqrtSized(e, 8), iters = 2,
        threshold = 0.4))
        .orderBy("id")
    }},
      // SemDeDup oracle: the pl_kmeans replay, then pairs restricted to a
      // shared cluster, then the same recursive-reachability labeling as
      // pl_dedup_clusters (min reachable id = representative).
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (SELECT id AS cid, v AS cv FROM e WHERE id <
         |  (SELECT greatest(8, CAST(floor(sqrt(count(*))) AS BIGINT))
         |   FROM embeddings)),
         |${kmAssign("c0", "a1")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2")},
         |${kmUpdate("a2", "c1", "c2")},
         |${kmAssign("c2", "a3")},
         |sp AS (
         |  SELECT a.id AS id1, b.id AS id2
         |  FROM a3 a JOIN a3 b ON a.cid = b.cid AND a.id < b.id
         |  WHERE list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM sp
         |  UNION ALL
         |  SELECT id2, id1 FROM sp),
         |nodes AS (SELECT DISTINCT vec_id AS id FROM embeddings),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT eg.a AS id, reach.r FROM reach JOIN edges eg ON eg.b = reach.id)
         |SELECT id, min(r) AS cid FROM reach GROUP BY id ORDER BY id""".stripMargin),

    // C4-style span dedup: first global occurrence of each sentence wins
    Gate("pl_span_dedup", { (s, dir) =>
      Dedup.spanDedup(docs(s, dir)).orderBy("doc_id")
    },
      // span dedup oracle: 1-based positions; string_agg skips the
      // CASE-nulled duplicate spans, ORDER BY pos preserves document order
      """WITH sp0 AS (SELECT doc_id, string_split(text, '. ') AS ps FROM documents),
        |spn AS (SELECT doc_id, unnest(range(1, len(ps) + 1)) AS pos, ps FROM sp0),
        |sp AS (SELECT doc_id, pos, ps[pos] AS span FROM spn WHERE length(ps[pos]) > 0),
        |fr AS (SELECT doc_id, pos, span,
        |         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        |       FROM sp)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN span END, '. ' ORDER BY pos), '') AS clean_text,
        |  count(*) AS n_spans,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ---- multimodal columns ---------------------------------------------
    Gate("pl_mm_meta", { (s, dir) =>
      Multimodal.extractMeta(Multimodal.withPayload(docs(s, dir), "text", "doc_id"))
        .select(col("id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("checksum"))
        .orderBy("id")
    },
      """SELECT doc_id AS id,
        |  CAST(length(text) AS BIGINT) AS byte_len,
        |  CAST(length(text) % 640 AS BIGINT) AS width,
        |  CAST(length(text) % 480 AS BIGINT) AS height,
        |  md5(text) AS checksum
        |FROM documents ORDER BY id""".stripMargin),

    Gate("pl_mm_frames", { (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.withPayload(docs(s, dir), "text", "doc_id"), n = 3, frameBytes = 64)
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_md5"))
        .orderBy("id", "frame_idx")
    },
      """SELECT doc_id AS id, CAST(i AS BIGINT) AS frame_idx,
        |       md5(substring(text, i * 64 + 1, 64)) AS frame_md5
        |FROM documents, (VALUES (0), (1), (2)) f(i)
        |WHERE length(substring(text, i * 64 + 1, 64)) > 0
        |ORDER BY id, frame_idx""".stripMargin),

    // REAL image decode end-to-end: deterministic 8×8 grayscale
    // patterns are encoded as actual PNGs (ImageIO.write) and decoded
    // back (ImageIO.read) partition-locally, then aHashed from the
    // decoded pixel plane. PNG is lossless, so the DuckDB oracle
    // replays the pixel FORMULA + hash math and skips the codec — a
    // hash-exact gate whose Spark side exercises the real decoder.
    Gate("pl_mm_decode", { (s, dir) =>
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("id")).as[Long]
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val px = Array.tabulate(64) { k =>
            (((id * 2654435761L + k.toLong * 40503L) % 256L + 256L) % 256L).toInt
          }
          (id, Multimodal.encodeGrayPng(8, 8, px))
        }
      }
      Multimodal.decodeGray(media)
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          Multimodal.aHash60Of(slice(col("px"), 1, 60)).as("ahash"))
        .orderBy("id")
    },
      // aHash: 60 sampled pixels (ascii of evenly-spaced chars), mean
      // threshold, MSB-first bit fold — bit-identical to Multimodal.aHash60Of
      // replays pl_mm_decode's pixel pattern + aHash math directly — the
      // PNG encode/decode between them is lossless, so the formula IS the
      // decoded plane
      """WITH p AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    list_transform(range(0, 60),
        |      k -> ((CAST(doc_id AS BIGINT) * 2654435761 + k * 40503) % 256
        |            + 256) % 256) AS px
        |  FROM documents)
        |SELECT id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(px,
        |        x -> CASE WHEN x > list_sum(px) / 60.0
        |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        |    (a, b) -> a * 2 + b) AS ahash
        |FROM p ORDER BY id""".stripMargin),

    // REAL decode → nearest-neighbor RESIZE end-to-end: the same
    // deterministic 8×8 PNGs round-trip through ImageIO, then the
    // thumbnail step runs as pure in-plan array math (integer NN index
    // map, no UDF) and is fingerprinted. The oracle replays the pixel
    // FORMULA at the resized indices and skips the codec (PNG is
    // lossless — the mm_decode contract)
    Gate("pl_mm_resize", { (s, dir) =>
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("id")).as[Long]
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val px = Array.tabulate(64) { k =>
            (((id * 2654435761L + k.toLong * 40503L) % 256L + 256L) % 256L).toInt
          }
          (id, Multimodal.encodeGrayPng(8, 8, px))
        }
      }
      Multimodal.decodeGray(media)
        .withColumn("rp", Multimodal.resizeNearestOf(col("px"), 8, 8, 4, 4))
        .select(col("id"), lit(4L).as("width"), lit(4L).as("height"),
          aggregate(col("rp"), lit(0L),
            (a, x) => pmod(a * 31 + x, lit(1L << 40))).as("cksum"),
          aggregate(col("rp"), lit(0L), (a, x) => a + x).as("pxsum"))
        .orderBy("id")
    },
      // resize oracle: the deterministic pixel formula read at the
      // nearest-neighbor source indices (2y, 2x for 8->4), codec skipped
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |px AS (
        |  SELECT id, list_transform(range(0, 16), k ->
        |    (((id * 2654435761 +
        |        (((k // 4) * 2) * 8 + (k % 4) * 2) * 40503) % 256) + 256)
        |      % 256) AS rp
        |  FROM ids)
        |SELECT id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), rp),
        |    (a, b) -> (a * 31 + b) % 1099511627776) AS cksum,
        |  CAST(list_sum(rp) AS BIGINT) AS pxsum
        |FROM px ORDER BY id""".stripMargin),

    // REAL audio decode end-to-end: deterministic s16le PCM payloads
    // are built as actual little-endian bytes (ByteBuffer), parsed back
    // partition-locally (the real byte-level decode a crawl pipeline
    // runs), then per-frame energy/peak/zero-crossing features computed
    // in-plan — the audio sibling of pl_mm_decode. The oracle replays
    // the sample FORMULA (s16 round-trips exactly) and skips the codec
    Gate("pl_mm_audio", { (s, dir) =>
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id").cast("long").as("id")).as[Long]
      val media = ids.mapPartitions { it =>
        it.map { id =>
          val bb = java.nio.ByteBuffer.allocate(512)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var k = 0
          while (k < 256) {
            bb.putShort((((id * 9973L + k * 131L) % 4096L) - 2048L).toShort)
            k += 1
          }
          (id, bb.array())
        }
      }
      val decoded = media.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = bytes.length / 2
          val arr = new Array[Int](n)
          var i = 0
          while (i < n) { arr(i) = bb.getShort(i * 2).toInt; i += 1 }
          (id, arr.toSeq)
        }
      }.toDF("id", "samples")
      val frames = decoded.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(3)),
          f => slice(col("samples"), f * 64 + 1, lit(64)))))
        .withColumnRenamed("pos", "frame_idx")
        .withColumnRenamed("col", "fr")
      frames.select(col("id"), col("frame_idx").cast("long").as("frame_idx"),
        aggregate(col("fr"), lit(0L), (a, x) => a + x * x).as("ssq"),
        array_max(transform(col("fr"), x => abs(x))).cast("long").as("peak"),
        aggregate(sequence(lit(2), lit(64)), lit(0L), (acc, i) =>
          acc + when((element_at(col("fr"), i) < 0) =!=
            (element_at(col("fr"), i - 1) < 0), 1L).otherwise(0L)).as("zc"))
        .orderBy("id", "frame_idx")
    },
      // audio oracle: the s16le sample FORMULA (exact short round-trip),
      // per-frame energy/peak aggregates + a lag-window zero-cross count
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |sm AS (
        |  SELECT id, k, ((id * 9973 + k * 131) % 4096) - 2048 AS s,
        |         k // 64 AS f
        |  FROM ids, (SELECT unnest(range(0, 256)) AS k) ks),
        |feat AS (
        |  SELECT id, f AS frame_idx, CAST(sum(s * s) AS BIGINT) AS ssq,
        |         CAST(max(abs(s)) AS BIGINT) AS peak
        |  FROM sm GROUP BY id, f),
        |zcs AS (
        |  SELECT id, f AS frame_idx,
        |    CAST(sum(CASE WHEN (s < 0) <> (prev < 0) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS zc
        |  FROM (SELECT id, f, s,
        |          lag(s) OVER (PARTITION BY id, f ORDER BY k) AS prev
        |        FROM sm)
        |  WHERE prev IS NOT NULL GROUP BY id, f)
        |SELECT feat.id, feat.frame_idx, ssq, peak, zcs.zc
        |FROM feat JOIN zcs USING (id, frame_idx)
        |ORDER BY id, frame_idx""".stripMargin),

    // perceptual-hash (aHash) image near-dup with the pixel source
    // stubbed: 60 sampled "pixels" → mean-threshold bits → 60-bit hash,
    // then near-dup grouping on the hash (keep_id = group min). Pixels
    // projected once per row (px_), read by mean + fold
    Gate("pl_mm_phash", { (s, dir) =>
      docs(s, dir)
        .withColumn("px_", Multimodal.pixels60(col("text")))
        .select(col("doc_id"), Multimodal.aHash60Of(col("px_")).as("ahash"))
        .withColumn("keep_id",
          min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("ahash"))))
        .orderBy("doc_id")
    },
      """WITH t AS (
        |  SELECT doc_id, text, greatest(length(text), 1) - 1 AS li FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 60),
        |      k -> ascii(substr(text, 1 + CAST(floor(k * li / 59.0) AS INT), 1))) AS px
        |  FROM t),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(px,
        |          x -> CASE WHEN x > list_sum(px) / 60.0
        |               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a * 2 + b) AS ahash
        |  FROM p)
        |SELECT doc_id, ahash,
        |       min(doc_id) OVER (PARTITION BY ahash) AS keep_id
        |FROM h ORDER BY doc_id""".stripMargin),

    // packed training sequences: packBins assignment materialized — each
    // bin's docs concatenated in id order into the sequence a trainer
    // reads, with doc/token totals
    Gate("pl_pack_concat", { (s, dir) =>
      Sampling.packSequences(docs(s, dir), "doc_id", "text",
        TextAnalysis.tokenCount(col("text")), budgetTokens = 512, nBuckets = 8)
        .orderBy("bin")
    },
      // same bin derivation as `pack`, materialized: per-bin concat in doc
      // order + doc/token totals
      """WITH t AS (
        |  SELECT doc_id, text,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_pack'), 1, 15)) AS BIGINT) % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, ntok, bucket,
        |         coalesce(SUM(ntok) OVER (PARTITION BY bucket ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t),
        |b AS (
        |  SELECT doc_id, text, ntok,
        |         CAST(bucket AS VARCHAR) || '_' || CAST(cum // 512 AS VARCHAR) AS bin
        |  FROM c)
        |SELECT bin, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |       string_agg(text, ' ' ORDER BY doc_id) AS packed
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // WordPiece tokenizer application: greedy longest-match subword
    // split per word against the shared broadcast vocabulary ('q' words
    // land on [UNK]); pieces re-joined to one string so the compare
    // stays scalar
    Gate("pl_wordpiece", { (s, dir) =>
      TextAnalysis.wordpiece(docs(s, dir), WordpieceVocab)
        .select(col("doc_id"),
          concat_ws(" ", col("pieces")).as("pieces_str"),
          col("n_pieces").cast("long").as("n_pieces"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE
         |v(piece) AS (VALUES $wpValues),
         |vp AS (
         |  SELECT piece,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS bare,
         |    (piece LIKE '##%') AS cont
         |  FROM v),
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |words AS (
         |  SELECT doc_id, unnest(ws) AS w,
         |         unnest(generate_series(1, len(ws))) AS wi
         |  FROM t),
         |fw AS (SELECT * FROM words WHERE w != ''),
         |dw AS (SELECT DISTINCT w FROM fw),
         |wpos AS (SELECT w, unnest(generate_series(1, length(w))) AS p FROM dw),
         |best AS (
         |  SELECT wpos.w, wpos.p, max_by(vp.piece, length(vp.bare)) AS piece,
         |         max(length(vp.bare)) AS blen
         |  FROM wpos JOIN vp
         |    ON substr(wpos.w, wpos.p, length(vp.bare)) = vp.bare
         |   AND vp.cont = (wpos.p > 1)
         |  GROUP BY wpos.w, wpos.p),
         |walk AS (
         |  SELECT w, 1 AS p, CAST([] AS VARCHAR[]) AS pieces FROM dw
         |  UNION ALL
         |  SELECT k.w, k.p + b.blen, list_append(k.pieces, b.piece)
         |  FROM walk k JOIN best b ON b.w = k.w AND b.p = k.p
         |  WHERE k.p <= length(k.w)),
         |fin AS (SELECT w, max(p) AS mp FROM walk GROUP BY w),
         |done AS (
         |  SELECT walk.w,
         |    CASE WHEN fin.mp = length(walk.w) + 1 THEN walk.pieces
         |         ELSE ['[UNK]'] END AS pieces
         |  FROM walk JOIN fin ON fin.w = walk.w AND fin.mp = walk.p),
         |per_doc AS (
         |  SELECT fw.doc_id, flatten(list(done.pieces ORDER BY fw.wi)) AS pl
         |  FROM fw JOIN done ON done.w = fw.w
         |  GROUP BY fw.doc_id)
         |SELECT t.doc_id,
         |  coalesce(array_to_string(pd.pl, ' '), '') AS pieces_str,
         |  CAST(coalesce(len(pd.pl), 0) AS BIGINT) AS n_pieces
         |FROM t LEFT JOIN per_doc pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // unigram-LM (SentencePiece-family) Viterbi segmentation — the
    // third subword family next to BPE and WordPiece: exact DP argmax
    // over per-position piece scores, NOT greedy longest-match (greedy
    // and Viterbi genuinely disagree on this vocab — the spec pins a
    // case). Oracle replays the same additive-key DP in one recursive
    // CTE over character positions (corpus words are ≤8 chars, so the
    // recursion is ≤8 steps over the distinct-word relation)
    Gate("pl_unigram_encode", { (s, dir) =>
      TextAnalysis.unigramEncode(docs(s, dir), UnigramVocab)
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE
         |uv(p) AS (VALUES $unigramValues),
         |vk AS MATERIALIZED (
         |  SELECT p, (500 * length(p) +
         |             ${h60Sql("p")} % 400) * 128 - 1 AS k
         |  FROM uv),
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |fw AS (SELECT doc_id, unnest(ws) AS w FROM t),
         |fwn AS (SELECT doc_id, w FROM fw WHERE w != ''),
         |dw AS (SELECT DISTINCT w FROM fwn),
         |dp AS (
         |  SELECT w, CAST(length(w) AS INTEGER) AS n, 0 AS i,
         |         [CAST(0 AS BIGINT)] AS bs
         |  FROM dw
         |  UNION ALL
         |  SELECT w, n, i + 1,
         |    bs || [greatest(
         |      bs[i + 1] + 12799,
         |      CASE WHEN i + 1 >= 2 THEN
         |        bs[i] + (SELECT k FROM vk WHERE p = substr(w, i, 2)) END,
         |      CASE WHEN i + 1 >= 3 THEN
         |        bs[i - 1] + (SELECT k FROM vk WHERE p = substr(w, i - 1, 3)) END,
         |      CASE WHEN i + 1 >= 4 THEN
         |        bs[i - 2] + (SELECT k FROM vk WHERE p = substr(w, i - 2, 4)) END)]
         |  FROM dp WHERE i < n),
         |fin AS (
         |  SELECT w, bs[n + 1] AS key,
         |         (128 - bs[n + 1] % 128) % 128 AS np
         |  FROM dp WHERE i = n),
         |agg AS (
         |  SELECT fwn.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(fin.np) AS BIGINT) AS n_pieces,
         |         CAST(sum((fin.key + fin.np) // 128) AS BIGINT) AS score
         |  FROM fwn JOIN fin ON fin.w = fwn.w
         |  GROUP BY fwn.doc_id)
         |SELECT t.doc_id,
         |  CAST(coalesce(agg.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(agg.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  CAST(coalesce(agg.score, 0) AS BIGINT) AS score
         |FROM t LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // unigram-LM vocabulary TRAINING: top-48 corpus substrings by
    // word-frequency weight, integer bit-length scores — the trained
    // artifact (like pl_bpe_train's merge table); the substring
    // explosion runs on the DISTINCT-WORD relation, so training cost
    // rides the vocabulary-sized aggregate, never the token stream
    Gate("pl_unigram_train", { (s, dir) =>
      TextAnalysis.unigramTrain(docs(s, dir), k = 48)
        .orderBy("rank")
    },
      // unigram-train oracle: distinct 2..4-char substrings PER WORD TYPE
      // (list_distinct, one count per word type × its instance count),
      // top-48 by (weight DESC, piece ASC), integer bit-length scores
      // (bin() digit count = Spark's conv(weight,10,2) length)
      """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |fw AS (SELECT unnest(ws) AS w FROM t),
        |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wcnt
        |       FROM fw WHERE w != '' GROUP BY w),
        |subs AS (
        |  SELECT wcnt, unnest(list_distinct(flatten(
        |    list_transform(range(2, 5), l ->
        |      list_transform(range(1, length(w) - l + 2),
        |        i -> substr(w, i, CAST(l AS INTEGER))))))) AS p
        |  FROM wc),
        |pw AS (SELECT p, CAST(sum(wcnt) AS BIGINT) AS weight
        |       FROM subs GROUP BY p),
        |rk AS (SELECT p, weight,
        |         row_number() OVER (ORDER BY weight DESC, p) AS rank
        |       FROM pw)
        |SELECT CAST(rank AS BIGINT) AS rank, p AS piece, weight,
        |       CAST(200 * length(p) + 32 * length(bin(weight)) AS BIGINT)
        |         AS score
        |FROM rk WHERE rank <= 48 ORDER BY rank""".stripMargin),

    // character-entropy quality signal (gibberish low / encoded-blob
    // high); nano-nat integer terms summed order-free, bits derived at
    // the end — cross-engine-deterministic by construction
    Gate("pl_char_entropy", { (s, dir) =>
      TextAnalysis.charEntropy(docs(s, dir))
        .select(col("doc_id"), col("n_chars"), col("n_unique_chars"),
          round4(col("entropyQ") / 1e9 / math.log(2.0)).as("entropy_bits"))
        .orderBy("doc_id")
    },
      // per-char -p·ln(p) terms quantized to integer nano-nats before the
      // sum (order-free), bits derived from the summed integer — mirrors
      // the Spark gate exactly
      s"""WITH ch AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c FROM documents),
         |cc AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n FROM ch GROUP BY doc_id, c),
         |tot AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t, count(*) AS uniq FROM cc GROUP BY doc_id),
         |q AS (SELECT cc.doc_id, CAST(round(-((cc.n/tot.t) * ln(cc.n/tot.t)) * 1e9) AS BIGINT) AS tq
         |      FROM cc JOIN tot USING (doc_id)),
         |s AS (SELECT doc_id, sum(tq) AS sq FROM q GROUP BY doc_id)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |       CAST(tot.uniq AS BIGINT) AS n_unique_chars,
         |       ${sroundSql("(s.sq / 1e9) / ln(2)")} AS entropy_bits
         |FROM documents d JOIN tot USING (doc_id) JOIN s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // BPE tokenizer TRAINING: the learned merge table — one distributed
    // word-frequency pass, then the merge loop on the vocabulary-sized
    // aggregate (the shape of real trainers: only the corpus pass scales
    // with data). Hash-checked against an unrolled iterative oracle that
    // replays pair-count → argmax → merge per rank in SQL
    Gate("pl_bpe_train", { (s, dir) =>
      import s.implicits._
      TextAnalysis.bpeTrain(docs(s, dir), BpeMergeCount)
        .zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b, a + b) }
        .toDF("merge_rank", "lhs", "rhs", "merged")
        .orderBy("merge_rank")
    },
      // BPE training: the unrolled chain, then each rank's argmax row
      bpeChainSql(BpeMergeCount) + "\n" +
        (1 to BpeMergeCount)
          .map(k => s"SELECT $k AS merge_rank, a AS lhs, b AS rhs, a||b AS merged FROM b$k")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY merge_rank")),

    // BPE tokenizer APPLICATION, end-to-end: train on the corpus, then
    // the distributed encode pass (broadcast merges, per-partition word
    // cache); pieces re-joined to one string so the compare stays scalar
    Gate("pl_bpe", { (s, dir) =>
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeTrain(d, BpeMergeCount)
      TextAnalysis.bpeEncode(d, merges)
        .select(col("doc_id"),
          concat_ws(" ", col("pieces")).as("pieces_str"),
          col("n_pieces").cast("long").as("n_pieces"))
        .orderBy("doc_id")
    },
      // BPE application: sequential replay of the learned merges on a
      // corpus word IS its end-of-training state, so the encode of every
      // distinct word is just w{N} parsed back into pieces; the tail then
      // mirrors the wordpiece oracle (per-doc flatten in word order)
      bpeChainSql(BpeMergeCount) + s""",
enc AS (SELECT w, regexp_extract_all(s, '<([^>]*)>', 1) AS pieces FROM w$BpeMergeCount),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
wd AS (SELECT doc_id, unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS wi FROM t),
fw AS (SELECT * FROM wd WHERE w != ''),
per_doc AS (SELECT fw.doc_id, flatten(list(e.pieces ORDER BY fw.wi)) AS pl
            FROM fw JOIN enc e ON e.w = fw.w GROUP BY fw.doc_id)
SELECT t.doc_id, coalesce(array_to_string(pd.pl, ' '), '') AS pieces_str,
       CAST(coalesce(len(pd.pl), 0) AS BIGINT) AS n_pieces
FROM t LEFT JOIN per_doc pd USING (doc_id) ORDER BY doc_id"""),

    // tokenizer fertility: BPE pieces per whitespace word, by source —
    // the tokenizer-efficiency number that prices a corpus in model
    // tokens (fertility_pm 10000 = 1 piece/word) and flags sources the
    // vocab serves badly. Reuses the trained merge list; encode is the
    // shuffle-free broadcast map of pl_bpe, then ONE source-keyed agg
    Gate("pl_tok_fertility", { (s, dir) =>
      val d = docs(s, dir)
      val merges = TextAnalysis.bpeTrain(d, BpeMergeCount)
      val enc = TextAnalysis.bpeEncode(d, merges)
        .select(col("doc_id"), col("n_pieces").cast("long").as("n_pieces"))
      d.select(col("doc_id"), col("source"),
          size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long").as("n_words"))
        .join(enc, "doc_id")
        .groupBy("source")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .select(col("source"), col("n_words"), col("n_pieces"),
          when(col("n_words") === 0, lit(null).cast("long"))
            .otherwise(expr("(n_pieces * 10000) div n_words"))
            .as("fertility_pm"))
        .orderBy("source")
    },
      // fertility oracle: same trained chain, piece counts per word
      // instance, one source-keyed rollup; NULL guard mirrors the gate.
      // The source set comes from `documents` via LEFT JOIN so a
      // degenerate source whose docs all tokenize to zero words still
      // surfaces as (source, 0, 0, NULL) — the exact shape the Spark
      // side produces (bpeEncode emits a row for every doc, empty ones
      // included)
      bpeChainSql(BpeMergeCount) + s""",
enc AS (SELECT w, CAST(len(regexp_extract_all(s, '<([^>]*)>', 1)) AS BIGINT) AS np
        FROM w$BpeMergeCount),
t AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
wd AS (SELECT doc_id, source, unnest(ws) AS w FROM t),
fw AS (SELECT * FROM wd WHERE w != ''),
pd AS (SELECT fw.source, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(e.np) AS BIGINT) AS n_pieces
       FROM fw JOIN enc e ON e.w = fw.w GROUP BY fw.source),
srcs AS (SELECT DISTINCT source FROM documents)
SELECT srcs.source,
       CAST(coalesce(pd.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(pd.n_pieces, 0) AS BIGINT) AS n_pieces,
       CASE WHEN coalesce(pd.n_words, 0) = 0 THEN NULL
            ELSE (pd.n_pieces * 10000) // pd.n_words END AS fertility_pm
FROM srcs LEFT JOIN pd USING (source) ORDER BY source"""),

    // HTML → text cleanup (extraction-adjacent pass); inline fixture —
    // the synthetic corpus is already plain text
    Gate("pl_strip_html", { (s, dir) =>
      import s.implicits._
      HtmlFixture.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.stripHtml(col("text")).as("clean"))
        .orderBy("doc_id")
    },
      s"""WITH d(doc_id, text) AS (VALUES $htmlValues)
         |SELECT doc_id, trim(regexp_replace(
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(
         |            regexp_replace(
         |              regexp_replace(text,
         |                '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
         |              '<[^>]*>', ' ', 'g'),
         |            '&lt;', '<', 'g'),
         |          '&gt;', '>', 'g'),
         |        '&quot;', '"', 'g'),
         |      '&#39;', '''', 'g'),
         |    '&amp;', '&', 'g'),
         |  '\\s+', ' ', 'g')) AS clean
         |FROM d ORDER BY doc_id""".stripMargin),

    // lexicon blocklist filter over the corpus: whole-token hits against
    // a (tiny here, broadcast-sized in production) term list
    Gate("pl_blocklist", { (s, dir) =>
      val terms = Seq("spark", "slow", "hash")
      TextAnalysis.withTokens(docs(s, dir))
        .select(col("doc_id"),
          TextAnalysis.blocklistHitsOf(col("w_"), terms).cast("long").as("n_hits"))
        .withColumn("flagged", col("n_hits") > 0)
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, x -> lower(x) IN ('spark', 'slow', 'hash'))) AS BIGINT) AS n_hits,
         |  len(list_filter(w, x -> lower(x) IN ('spark', 'slow', 'hash'))) > 0 AS flagged
         |FROM t ORDER BY doc_id""".stripMargin),

    // URL host extraction + normalization (the step before per-host caps
    // and blocklists); inline fixture — the synthetic corpus carries no
    // URLs. Counts per host: total references and distinct docs
    Gate("pl_url_hosts", { (s, dir) =>
      import s.implicits._
      UrlFixture.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), explode(TextAnalysis.urlHosts(col("text"))).as("host"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_refs"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy("host")
    },
      s"""WITH d(doc_id, text) AS (VALUES $urlValues),
         |u AS (
         |  SELECT doc_id,
         |    unnest(list_transform(
         |      regexp_extract_all(text, 'https?://([^/\\s]+)', 1),
         |      h -> regexp_replace(lower(h), '^www\\.', ''))) AS host
         |  FROM d)
         |SELECT host, count(*) AS n_refs, count(DISTINCT doc_id) AS n_docs
         |FROM u GROUP BY host ORDER BY host""".stripMargin),

    // per-source unigram KL divergence against the corpus distribution —
    // the domain-shift audit behind mixture reweighting (which sources
    // are lexically far from the pool they'll be mixed into). Source
    // counts shuffle once keyed (source, token); corpus counts derive
    // from them (map-side combinable), so raw tokens are touched exactly
    // once; the vocab-sized count frames broadcast back and the N_corpus
    // scalar rides a 1-row broadcast cross join. Each KL term quantizes
    // to an integer nano BEFORE the per-source sum (order-free — the
    // pl_corpus_stats cross-engine float rule).
    Gate("pl_kl_div", { (s, dir) =>
      val tok = docs(s, dir).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sw = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      val cw = sw.groupBy("token").agg(sum(col("cs")).as("cc"))
      val ns = sw.groupBy("source").agg(sum(col("cs")).as("nsrc"))
      val nc = cw.agg(sum(col("cc")).as("ncorp"))
      val term = (col("cs").cast("double") / col("nsrc").cast("double")) *
        log(col("cs").cast("double") * col("ncorp").cast("double") /
          (col("cc").cast("double") * col("nsrc").cast("double")))
      sw.join(broadcast(cw), Seq("token"))
        .join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(nc))
        .withColumn("qt", floor(term * 1000000000L + 0.5 + 1e-6).cast("long"))
        .groupBy("source")
        .agg(max(col("nsrc")).as("n_tokens"), count(lit(1)).as("n_vocab"),
          sum(col("qt")).as("kl_nano"))
        .orderBy("source")
    },
      s"""WITH tokx AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |sw AS (
         |  SELECT source, token, CAST(count(*) AS BIGINT) AS cs
         |  FROM tokx GROUP BY 1, 2),
         |cw AS (SELECT token, CAST(sum(cs) AS BIGINT) AS cc
         |       FROM sw GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS nsrc
         |       FROM sw GROUP BY 1),
         |nc AS (SELECT CAST(sum(cc) AS BIGINT) AS ncorp FROM cw),
         |t AS (
         |  SELECT sw.source, ns.nsrc,
         |         CAST(floor((CAST(cs AS DOUBLE) / CAST(nsrc AS DOUBLE)) *
         |           ln(CAST(cs AS DOUBLE) * CAST(ncorp AS DOUBLE) /
         |              (CAST(cc AS DOUBLE) * CAST(nsrc AS DOUBLE)))
         |           * 1000000000 + 0.5 + 1e-6) AS BIGINT) AS qt
         |  FROM sw JOIN cw USING (token)
         |  JOIN ns ON ns.source = sw.source, nc)
         |SELECT source, CAST(max(nsrc) AS BIGINT) AS n_tokens,
         |       CAST(count(*) AS BIGINT) AS n_vocab,
         |       CAST(sum(qt) AS BIGINT) AS kl_nano
         |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // per-source OOV rate against the top-20 corpus vocabulary — the
    // tokenizer-coverage audit run before committing a vocab (a source
    // whose OOV share is high will fragment into [UNK]/bytes). The vocab
    // is the pl_vocab top-K (freq desc, token tiebreak) broadcast to an
    // existence join; the rate is one exact integer division per source.
    Gate("pl_oov_rate", { (s, dir) =>
      val v = TextAnalysis.vocabulary(docs(s, dir), topK = 20)
        .select(col("token"), lit(1L).as("inv"))
      docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .join(broadcast(v), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("tot"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("oov"))
        .select(col("source"), col("tot"), col("oov"),
          expr("(oov * 10000) div tot").as("oov_pm"))
        .orderBy("source")
    },
      s"""WITH tokx AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |v AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS freq FROM (
         |      SELECT unnest(string_split(text, ' ')) AS token
         |      FROM documents)
         |    GROUP BY token)
         |  ORDER BY freq DESC, token LIMIT 20),
         |j AS (
         |  SELECT source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS o
         |  FROM tokx LEFT JOIN v ON v.token = tokx.token)
         |SELECT source, CAST(count(*) AS BIGINT) AS tot,
         |       CAST(sum(o) AS BIGINT) AS oov,
         |       (CAST(sum(o) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT)
         |         AS oov_pm
         |FROM j GROUP BY source ORDER BY source""".stripMargin),

    // hard-negative mining: per query, the 3 most similar vectors with a
    // DIFFERENT label (near-miss negatives for contrastive training)
    Gate("pl_hard_neg", { (s, dir) =>
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10), k = 3)
        .select(col("qid"), col("nid"), col("neg_label"),
          round4(col("cos")).as("cos"))
        .orderBy("qid", "nid")
    },
      s"""WITH q AS (
         |  SELECT vec_id AS qid, label AS qlab,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (
         |  SELECT vec_id AS nid, label AS nlab,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
         |  FROM embeddings),
         |s AS (
         |  SELECT qid, nid, nlab, list_dot_product(qv, nv) /
         |        (sqrt(list_dot_product(qv, qv)) *
         |         sqrt(list_dot_product(nv, nv))) AS cos
         |  FROM q JOIN c ON qid != nid AND qlab != nlab),
         |r AS (
         |  SELECT qid, nid, nlab, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, nid) AS rk
         |  FROM s)
         |SELECT qid, nid, nlab AS neg_label, ${sroundSql("cos")} AS cos
         |FROM r WHERE rk <= 3 ORDER BY qid, nid""".stripMargin),

    // layout skipping audit: for the pl_zorder table, how many files
    // does a source-dimension predicate actually touch under the
    // Z-order layout vs a length-sorted one — the measure-don't-guess
    // gate for the layout family (Z-ordering is only worth its write
    // cost if the second dimension's envelopes really prune). Both
    // layouts' file envelopes are computed in-plan from the same
    // bucketed frame; hit = file envelope contains the predicate
    // value; skip rate is an exact integer division.
    Gate("pl_skip_stats", { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("srcid", expr("CAST(substring(source, 4) AS BIGINT)"))
        .withColumn("x", Layout.bucket8(col("n_chars"), cell = 4))
        .withColumn("y", col("srcid") * 13)
      val target = 91L // srcid 7 on the y scale
      def audit(withFid: DataFrame, name: String): DataFrame =
        withFid.groupBy("fid")
          .agg(min(col("y")).as("mn"), max(col("y")).as("mx"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mn") <= target && col("mx") >= target, 1L)
              .otherwise(0L)).as("n_hit"))
          .select(lit(name).as("layout"), col("n_files"), col("n_hit"),
            expr("((n_files - n_hit) * 10000) div n_files").as("skip_pm"))
      val zf = d.withColumn("fid",
        Layout.zFile(Layout.zValue16(col("x"), col("y")), 32))
      val wl = Window.orderBy(col("n_chars"), col("doc_id"))
      val lf = d
        .withColumn("rn", row_number().over(wl).cast("long"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("fid", expr("((rn - 1) * 32) div nn"))
      audit(lf, "length_sorted")
        .unionByName(audit(zf, "zorder"))
        .orderBy("layout")
    },
      s"""WITH b AS (
         |  SELECT doc_id, n_chars,
         |    least(n_chars // 4, 255) AS x,
         |    CAST(substr(source, 4) AS BIGINT) * 13 AS y
         |  FROM documents),
         |z AS (
         |  SELECT y, ${(0 until 8).map(i =>
              s"((x >> $i) & 1) * ${1L << (2 * i)}" +
              s" + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
              .mkString(" + ")} AS zv
         |  FROM b),
         |zf AS (SELECT y, (zv * 32) // 65536 AS fid FROM z),
         |ze AS (SELECT fid, min(y) AS mn, max(y) AS mx
         |       FROM zf GROUP BY fid),
         |za AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(CASE WHEN mn <= 91 AND mx >= 91
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM ze),
         |lr AS (
         |  SELECT y,
         |         CAST(row_number() OVER (ORDER BY n_chars, doc_id)
         |              AS BIGINT) AS rn,
         |         CAST(count(*) OVER () AS BIGINT) AS nn
         |  FROM b),
         |lf AS (SELECT y, ((rn - 1) * 32) // nn AS fid FROM lr),
         |le AS (SELECT fid, min(y) AS mn, max(y) AS mx
         |       FROM lf GROUP BY fid),
         |la AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(CASE WHEN mn <= 91 AND mx >= 91
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |  FROM le)
         |SELECT 'length_sorted' AS layout, n_files, n_hit,
         |       ((n_files - n_hit) * 10000) // n_files AS skip_pm
         |FROM la
         |UNION ALL
         |SELECT 'zorder', n_files, n_hit,
         |       ((n_files - n_hit) * 10000) // n_files
         |FROM za
         |ORDER BY layout""".stripMargin),

    // near-dup detector evaluation: precision/recall of the SimHash
    // hamming≤3 candidate pairs against the exact n-gram-Jaccard ≥0.8
    // truth — the pl_ann_recall sibling for the dedup family (the
    // measure-don't-guess gate pricing what the bit-signature shortcut
    // costs before betting a 100 TB dedup run on it). Both pair chains
    // are the existing gated operators; the comparison is one full
    // outer join on the canonical (id1 < id2) pair key and exact
    // integer rates.
    Gate("pl_neardup_eval", { (s, dir) => CacheScope.eager { cache =>
      // truth = the PREFIX-FILTER exact-Jaccard path (r12): provably
      // lossless (no df cap), and measured LINEAR sf0.1→sf1 where the
      // inverted-index chain is quadratic-prone — the truth chain was
      // this gate's dominant cost (14.4 of 18.4 s at sf1)
      // the truth chain and the detector chain are independent eager
      // pipelines — overlap them as concurrent jobs (guide §2.6; r16):
      // sequentially, each chain's straggler tail idled the cores the
      // other chain could have been filling
      val (t, p) = Dedup.inParallel(
        cache.keep(Dedup.prefixFilterPairs(docs(s, dir), n = 3, threshold = 0.8))
          .select(col("id1"), col("id2"), lit(1L).as("in_t")),
        // same AUTO-radius detector pl_neardup_edit verifies, so this
        // gate RECORDS the recall cost of each scale's tightened radius
        cache.keep(Dedup.simhashPairsAuto(docs(s, dir)))
          .select(col("id1"), col("id2"), lit(1L).as("in_p")))
      t.join(p, Seq("id1", "id2"), "full_outer")
        .agg(sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
          sum(coalesce(col("in_p"), lit(0L))).as("n_pred"),
          sum(when(col("in_t").isNotNull && col("in_p").isNotNull, 1L)
            .otherwise(0L)).as("tp"))
        .select(col("n_truth"), col("n_pred"), col("tp"),
          // explicit zero-guard, mirrored in the oracle: Spark's `div`
          // returns NULL on /0 while DuckDB's `//` raises — guard both
          // sides identically so an empty detector yields NULL rates
          when(col("n_pred") === 0, lit(null).cast("long"))
            .otherwise(expr("(tp * 10000) div n_pred")).as("prec_pm"),
          when(col("n_truth") === 0, lit(null).cast("long"))
            .otherwise(expr("(tp * 10000) div n_truth")).as("rec_pm"))
    }},
      // detector-evaluation oracle: the exact-Jaccard truth chain and the
      // simhash candidate chain side by side (disjoint CTE namespaces),
      // compared by one full outer join on the canonical pair key
      // truth side = the UNCAPPED exact pair set (the prefix-filter
      // operator's contract — its candidate pruning is provably lossless,
      // so the oracle is plain exact Jaccard, same as pl_dedup_prefix's)
      s"""WITH $shingleCte,
         |${jaccardCtes()},
         |truth AS (SELECT id1, id2 FROM pairs WHERE jac >= 0.8),
         |$simhashAutoCtes,
         |pred AS (SELECT id1, id2 FROM cand
         |         WHERE hamming <= (SELECT c - 1 FROM cprm)),
         |j AS (
         |  SELECT CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END AS in_t,
         |         CASE WHEN p.id1 IS NOT NULL THEN 1 ELSE 0 END AS in_p
         |  FROM truth t FULL JOIN pred p
         |    ON p.id1 = t.id1 AND p.id2 = t.id2),
         |ag AS (
         |  SELECT CAST(sum(in_t) AS BIGINT) AS n_truth,
         |         CAST(sum(in_p) AS BIGINT) AS n_pred,
         |         CAST(sum(in_t * in_p) AS BIGINT) AS tp
         |  FROM j)
         |SELECT n_truth, n_pred, tp,
         |       CASE WHEN n_pred = 0 THEN NULL
         |            ELSE (tp * 10000) // n_pred END AS prec_pm,
         |       CASE WHEN n_truth = 0 THEN NULL
         |            ELSE (tp * 10000) // n_truth END AS rec_pm
         |FROM ag""".stripMargin),

    // adjusted Rand index between the MinHash-LSH (verified) clustering
    // and the SimHash clustering — ONE chance-corrected number for "can
    // the cheap bit-signature dedup stand in for the shingle pipeline";
    // contingency = one id join + hash agg, pair counts exact integers
    Gate("pl_rand_index", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      // the two detector chains are independent eager pipelines —
      // overlap them as concurrent jobs (guide §2.6; r16): the minhash
      // chain's verify tail and the simhash chain's candidate join
      // otherwise each leave most cores idle while the other waits
      val (mh, sh) = Dedup.inParallel(
        cache.keep(Dedup.minhashLshPairs(d, 3, 0.8)).select("id1", "id2"),
        cache.keep(Dedup.simhashPairs(d, nBits = 60, maxHamming = 3))
          .select("id1", "id2"))
      cache.keep(Dedup.clusterAgreement(d, mh, sh))
        .select(col("n"), col("sum_ij"), col("sum_a"), col("sum_b"),
          round4(col("ari")).as("ari"))
    }},
      // ARI oracle: BOTH detector chains in one recursive WITH — the
      // minhash/jaccard chain keeps clustersCtes's names, the simhash
      // chain is the shared CTE text with _s2-namespaced names, then the
      // pair-counting contingency identity
      {
        val sim2 = simhashCtes.replaceAll(
          "\\b(tokx|hs|votes|sim|ck|okc|cand)\\b", "$1_s2")
        val expSql = "CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE) / " +
          "CAST(tot AS DOUBLE)"
        s"""$clustersCtes,
           |lab1 AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
           |$sim2,
           |fp2 AS (SELECT id1, id2 FROM cand_s2 WHERE hamming <= 3),
           |edges2 AS (
           |  SELECT id1 AS a, id2 AS b FROM fp2
           |  UNION ALL
           |  SELECT id2, id1 FROM fp2),
           |reach2 AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT e.a AS id, reach2.r FROM reach2 JOIN edges2 e ON e.b = reach2.id),
           |lab2 AS (SELECT id, min(r) AS cid FROM reach2 GROUP BY id),
           |ctg AS (
           |  SELECT l1.cid AS c1, l2.cid AS c2, CAST(count(*) AS BIGINT) AS nij
           |  FROM lab1 l1 JOIN lab2 l2 USING (id) GROUP BY 1, 2),
           |sij AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sum_ij,
           |               CAST(sum(nij) AS BIGINT) AS n FROM ctg),
           |sa AS (SELECT CAST(sum((ai * (ai - 1)) // 2) AS BIGINT) AS sum_a FROM (
           |         SELECT CAST(sum(nij) AS BIGINT) AS ai FROM ctg GROUP BY c1)),
           |sb AS (SELECT CAST(sum((bj * (bj - 1)) // 2) AS BIGINT) AS sum_b FROM (
           |         SELECT CAST(sum(nij) AS BIGINT) AS bj FROM ctg GROUP BY c2)),
           |fin AS (SELECT n, sum_ij, sum_a, sum_b, (n * (n - 1)) // 2 AS tot
           |        FROM sij, sa, sb)
           |SELECT n, sum_ij, sum_a, sum_b,
           |  ${sroundSql(
                s"CASE WHEN (CAST(sum_a + sum_b AS DOUBLE) / 2.0 - $expSql) = 0 " +
                s"THEN 1.0 ELSE (CAST(sum_ij AS DOUBLE) - $expSql) / " +
                s"(CAST(sum_a + sum_b AS DOUBLE) / 2.0 - $expSql) END")} AS ari
           |FROM fin""".stripMargin
      }),

    // two-sample Kolmogorov-Smirnov distance between every source
    // pair's token-count distributions: D = max |ecdf1 − ecdf2| as an
    // EXACT per-10k integer (cross-multiplied cumulative counts — no
    // float ecdf); the corpus pass is one (source, length) count, the
    // KS walk runs on the ≤|lengths| grid per pair
    Gate("pl_ks_test", { (s, dir) =>
      val dist = TextAnalysis.withTokens(docs(s, dir))
        .select(col("source"), size(col("w_")).cast("long").as("v"))
        .groupBy("source", "v").agg(count(lit(1)).as("c"))
      val srcs = dist.select(col("source")).distinct()
      val pr = srcs.as("x").crossJoin(srcs.as("y"))
        .filter(col("x.source") < col("y.source"))
        .select(col("x.source").as("s1"), col("y.source").as("s2"))
      val j = pr.join(dist,
        dist("source") === col("s1") || dist("source") === col("s2"))
        .groupBy("s1", "s2", "v")
        .agg(sum(when(col("source") === col("s1"), col("c"))
          .otherwise(0L)).as("c1"),
          sum(when(col("source") === col("s2"), col("c"))
            .otherwise(0L)).as("c2"))
      val w = Window.partitionBy("s1", "s2").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("s1", "s2")
      j.withColumn("cum1", sum(col("c1")).over(w))
        .withColumn("cum2", sum(col("c2")).over(w))
        .withColumn("n1", sum(col("c1")).over(wAll))
        .withColumn("n2", sum(col("c2")).over(wAll))
        .withColumn("dn", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
        .groupBy("s1", "s2")
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(col("dn")).as("dmax"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          expr("(dmax * 10000) div (n1 * n2)").as("d_pm"))
        .orderBy("s1", "s2")
    },
      // KS oracle: cross-multiplied cumulative counts per source pair —
      // the exact integer D without any float ecdf
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |dist AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |         FROM t GROUP BY source, v),
        |pr AS (
        |  SELECT x.source AS s1, y.source AS s2
        |  FROM (SELECT DISTINCT source FROM dist) x,
        |       (SELECT DISTINCT source FROM dist) y
        |  WHERE x.source < y.source),
        |j AS (
        |  SELECT pr.s1, pr.s2, d.v,
        |    CAST(sum(CASE WHEN d.source = pr.s1 THEN d.c ELSE 0 END)
        |         AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN d.source = pr.s2 THEN d.c ELSE 0 END)
        |         AS BIGINT) AS c2
        |  FROM pr JOIN dist d ON d.source = pr.s1 OR d.source = pr.s2
        |  GROUP BY pr.s1, pr.s2, d.v),
        |k AS (
        |  SELECT s1, s2,
        |    CAST(sum(c1) OVER (PARTITION BY s1, s2 ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum1,
        |    CAST(sum(c2) OVER (PARTITION BY s1, s2 ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum2,
        |    CAST(sum(c1) OVER (PARTITION BY s1, s2) AS BIGINT) AS n1,
        |    CAST(sum(c2) OVER (PARTITION BY s1, s2) AS BIGINT) AS n2
        |  FROM j),
        |a AS (
        |  SELECT s1, s2, max(n1) AS n1, max(n2) AS n2,
        |         max(abs(cum1 * n2 - cum2 * n1)) AS dmax
        |  FROM k GROUP BY s1, s2)
        |SELECT s1, s2, n1, n2, (dmax * 10000) // (n1 * n2) AS d_pm
        |FROM a ORDER BY s1, s2""".stripMargin),

    // chi-square independence audit of the (source × lang) contingency
    // table + Cramér's V effect size — is language mix actually uniform
    // across sources; per-cell terms quantize to a 1e-6 grid before the
    // order-free sum, margins are exact integers
    Gate("pl_chi2", { (s, dir) =>
      val ct = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("o"))
      val rm = ct.groupBy("source").agg(sum(col("o")).as("ri"))
      val cm = ct.groupBy("lang").agg(sum(col("o")).as("cj"))
      val tot = ct.agg(sum(col("o")).as("n"),
        count_distinct(col("source")).as("nr"),
        count_distinct(col("lang")).as("nc"))
      val dev = (col("o") * col("n") - col("ri") * col("cj")).cast("double")
      val term = dev * dev / (col("n") * col("ri") * col("cj")).cast("double")
      val agg = ct.join(rm, "source").join(cm, "lang")
        .crossJoin(broadcast(tot))
        .withColumn("tq", floor(term * 1e6 + 0.5).cast("long"))
        .groupBy("n", "nr", "nc")
        .agg(sum(col("tq")).as("chi2q"))
      val chi2 = col("chi2q").cast("double") / 1e6
      agg.select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round4(chi2).as("chi2"),
        round4(sqrt(chi2 / (col("n") *
          least(col("nr") - 1, col("nc") - 1)).cast("double"))).as("cramers_v"))
    },
      // chi-square oracle: integer margins, per-cell deviation terms on a
      // 1e-6 grid before the order-free sum, fixed-shape V read
      s"""WITH ct AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
         |  FROM documents GROUP BY source, lang),
         |rm AS (SELECT source, CAST(sum(o) AS BIGINT) AS ri
         |       FROM ct GROUP BY source),
         |cm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS cj
         |       FROM ct GROUP BY lang),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |               CAST(count(DISTINCT source) AS BIGINT) AS nr,
         |               CAST(count(DISTINCT lang) AS BIGINT) AS nc
         |        FROM ct),
         |cell AS (
         |  SELECT tot.n, tot.nr, tot.nc,
         |    CAST(floor((CAST(ct.o * tot.n - rm.ri * cm.cj AS DOUBLE) *
         |                CAST(ct.o * tot.n - rm.ri * cm.cj AS DOUBLE) /
         |                CAST(tot.n * rm.ri * cm.cj AS DOUBLE)) * 1e6 + 0.5)
         |         AS BIGINT) AS tq
         |  FROM ct JOIN rm USING (source) JOIN cm USING (lang), tot),
         |agg AS (SELECT n, nr, nc, CAST(sum(tq) AS BIGINT) AS chi2q
         |        FROM cell GROUP BY n, nr, nc)
         |SELECT n, (nr - 1) * (nc - 1) AS dof,
         |  ${sroundSql("CAST(chi2q AS DOUBLE) / 1e6")} AS chi2,
         |  ${sroundSql(
            "sqrt((CAST(chi2q AS DOUBLE) / 1e6) / " +
            "CAST(n * least(nr - 1, nc - 1) AS DOUBLE))")} AS cramers_v
         |FROM agg""".stripMargin),

    // exact edit-distance confirmation of SimHash candidates: the
    // verify stage a production near-dup pipeline runs between the
    // cheap signature pass and the actual drop — O(len²) DP priced
    // only on candidate pairs, all-integer output
    Gate("pl_neardup_edit", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      // AUTO-radius signature pass (r13): at a fixed 60-bit budget the
      // radius-3 candidate set grows birthday-rate (verified pairs 17.4×
      // on 10× docs, SCALING.md), and the Levenshtein DP downstream pays
      // for every one — the probe tightens the Hamming radius when the
      // measured chunk-bucket collision mass exceeds 64 candidates/doc,
      // so verify cost tracks docs, not pairs. Recall cost is priced by
      // pl_neardup_eval under the same detector.
      val cand = cache.keep(Dedup.simhashPairsAuto(d)).select(col("id1"), col("id2"))
      Dedup.editVerify(d, cand).orderBy("id1", "id2")
    }},
      // edit-distance confirmation oracle: the shared simhash candidate
      // chain, then DuckDB's builtin levenshtein on the reattached texts —
      // integer similarity, no float rule needed
      s"""WITH $simhashAutoCtes,
         |p AS (SELECT id1, id2 FROM cand
         |      WHERE hamming <= (SELECT c - 1 FROM cprm)),
         |v AS (
         |  SELECT p.id1, p.id2,
         |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |    CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS maxlen
         |  FROM p JOIN documents a ON a.doc_id = p.id1
         |         JOIN documents b ON b.doc_id = p.id2)
         |SELECT id1, id2, lev, ((maxlen - lev) * 10000) // maxlen AS sim_pm
         |FROM v WHERE maxlen > 0 ORDER BY id1, id2""".stripMargin),

    // Heaps-law vocabulary growth: cumulative docs/tokens/vocab at ten
    // ingestion-order checkpoints — does V(N) flatten, i.e. how big
    // must the tokenizer vocab / dedup hash space grow with the corpus
    Gate("pl_heaps", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.heapsGrowth(docs(s, dir), nBuckets = 10))
        .orderBy("bucket")
    }},
      """WITH ids AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM documents),
        |b AS (SELECT doc_id, ((rn - 1) * 10) // nn + 1 AS bucket FROM ids),
        |tok AS (
        |  SELECT b.bucket, unnest(string_split(d.text, ' ')) AS token
        |  FROM documents d JOIN b USING (doc_id)),
        |tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tb
        |       FROM tok GROUP BY bucket),
        |vb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS vb FROM (
        |         SELECT token, min(bucket) AS bucket FROM tok GROUP BY token)
        |       GROUP BY bucket),
        |db AS (SELECT bucket, CAST(count(*) AS BIGINT) AS db
        |       FROM b GROUP BY bucket)
        |SELECT bucket,
        |  CAST(sum(db) OVER w AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(tb, 0)) OVER w AS BIGINT) AS n_tokens,
        |  CAST(sum(coalesce(vb, 0)) OVER w AS BIGINT) AS vocab
        |FROM db LEFT JOIN tb USING (bucket) LEFT JOIN vb USING (bucket)
        |WINDOW w AS (ORDER BY bucket
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin),

    // Zipf rank-frequency OLS fit over the top-100 tokens: slope ≈ −1
    // is the natural-text signature; flat slopes flag templated or
    // synthetic corpora. ln terms on a 1e-6 integer grid, moments are
    // exact integer sums, slope/intercept fixed-shape float reads
    Gate("pl_zipf", { (s, dir) =>
      TextAnalysis.zipfFit(docs(s, dir), topK = 100)
        .select(col("n_terms"), round4(col("slope")).as("slope"),
          round4(col("intercept")).as("intercept"))
    },
      s"""WITH f AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token ORDER BY freq DESC, token LIMIT 100),
        |r AS (
        |  SELECT freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
        |      AS rank
        |  FROM f),
        |q AS (
        |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |           AS qx,
        |         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |           AS qy
        |  FROM r),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |         CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
        |         CAST(sum(qx * qy) AS BIGINT) AS sxy,
        |         CAST(sum(qx * qx) AS BIGINT) AS sxx
        |  FROM q),
        |s AS (
        |  SELECT n_terms, sx, sy,
        |    CAST(n_terms * sxy - sx * sy AS DOUBLE) /
        |      CAST(n_terms * sxx - sx * sx AS DOUBLE) AS slope_raw
        |  FROM m)
        |SELECT n_terms,
        |  ${sroundSql("slope_raw")} AS slope,
        |  ${sroundSql("""(CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE)) /
        |         (CAST(n_terms AS DOUBLE) * 1e6)""")} AS intercept
        |FROM s""".stripMargin),

    // interpolated Kneser-Ney bigram NLL: held-out (odd-id) docs scored
    // against train-half counts with continuation-probability backoff —
    // one order deeper than add-α pl_bigram_nll, the smoothing KenLM
    // actually uses for CCNet-style quality scoring
    Gate("pl_kn_nll", { (s, dir) => CacheScope.eager { cache =>
      cache.keep(TextAnalysis.knNll(docs(s, dir)))
        .select(col("doc_id"), col("n_scored"), col("n_skip"),
          round4(col("nll")).as("nll"))
        .orderBy("doc_id")
    }},
      // Kneser-Ney oracle: identical count relations and the SAME float
      // expression tree as the Spark side (greatest/discount/continuation
      // shapes mirrored operator-for-operator), per-position -ln P on the
      // 1e-6 grid before the order-free per-doc sum
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
        |         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS w2
        |  FROM tok WHERE len(w) >= 2),
        |c2 AS MATERIALIZED (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |              CAST(count(*) AS BIGINT) AS n1f
        |       FROM c2 GROUP BY w1),
        |n1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r
        |        FROM c2 GROUP BY w2),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS t_ FROM c2),
        |sc AS (
        |  SELECT e.doc_id, n1r.n1r,
        |    CASE WHEN c1.c1 IS NOT NULL THEN
        |      (greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75, 0.0) +
        |        (0.75 * CAST(c1.n1f AS DOUBLE)) *
        |          (CAST(n1r.n1r AS DOUBLE) / CAST(t.t_ AS DOUBLE))) /
        |        CAST(c1.c1 AS DOUBLE)
        |    ELSE CAST(n1r.n1r AS DOUBLE) / CAST(t.t_ AS DOUBLE) END AS p
        |  FROM bg e
        |  LEFT JOIN c2 ON c2.w1 = e.w1 AND c2.w2 = e.w2
        |  LEFT JOIN c1 ON c1.w1 = e.w1
        |  LEFT JOIN n1r ON n1r.w2 = e.w2
        |  CROSS JOIN t
        |  WHERE e.doc_id % 2 = 1),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN n1r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_scored,
        |    CAST(sum(CASE WHEN n1r IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_skip,
        |    CAST(sum(CASE WHEN n1r IS NOT NULL THEN
        |        CAST(floor(-ln(p) * 1e6 + 0.5) AS BIGINT) END) AS BIGINT)
        |      AS nllq
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_scored, n_skip,
        |  ${sroundSql("CAST(nllq AS DOUBLE) / (CAST(n_scored AS DOUBLE) * 1e6)")} AS nll
        |FROM agg WHERE n_scored > 0 ORDER BY doc_id""".stripMargin),

    // distinct-n lexical diversity (Li et al. 2016): distinct unigrams /
    // total and distinct bigrams / total per source — the repetition
    // screen for generated or templated corpora (near-duplicate boiler-
    // plate collapses distinct-2 long before exact dedup fires). Two
    // map-side-combined aggregations joined on the tiny source key;
    // rates are exact integer divisions.
    Gate("pl_distinct_n", { (s, dir) =>
      val tk = TextAnalysis.withTokens(docs(s, dir))
      val uni = tk.select(col("source"), explode(col("w_")).as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("t1"), count_distinct(col("g")).as("d1"))
      val bi = tk.filter(size(col("w_")) >= 2)
        .select(col("source"),
          explode(TextAnalysis.ngramsOf(col("w_"), 2)).as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("t2"), count_distinct(col("g")).as("d2"))
      uni.join(bi, Seq("source"))
        .select(col("source"), col("t1"), col("d1"),
          expr("(d1 * 10000) div t1").as("dist1_pm"),
          col("t2"), col("d2"),
          expr("(d2 * 10000) div t2").as("dist2_pm"))
        .orderBy("source")
    },
      s"""WITH tok AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |uni AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS t1,
         |         CAST(count(DISTINCT g) AS BIGINT) AS d1
         |  FROM (SELECT source, unnest(w) AS g FROM tok)
         |  GROUP BY source),
         |bi AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS t2,
         |         CAST(count(DISTINCT g) AS BIGINT) AS d2
         |  FROM (
         |    SELECT source, unnest(list_transform(range(1, len(w)),
         |             i -> w[i] || ' ' || w[i+1])) AS g
         |    FROM tok WHERE len(w) >= 2)
         |  GROUP BY source)
         |SELECT source, t1, d1, (d1 * 10000) // t1 AS dist1_pm,
         |       t2, d2, (d2 * 10000) // t2 AS dist2_pm
         |FROM uni JOIN bi USING (source) ORDER BY source""".stripMargin),

    // held-out bigram coverage: share of eval-half bigram occurrences
    // already seen in the train half, per source — the cheap
    // memorization/novelty probe next to pl_sbo_nll's model-based one
    // (low coverage = the source keeps contributing novel token
    // transitions; saturated coverage = diminishing returns). Train
    // grams dedup to one shuffled distinct; the probe is an equi join
    // on the gram key (shuffle-joinable at corpus scale — never a
    // broadcast of an unbounded vocab); the rate is one exact integer
    // division per source.
    Gate("pl_bigram_cov", { (s, dir) =>
      val bg = TextAnalysis.withTokens(docs(s, dir))
        .filter(size(col("w_")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(TextAnalysis.ngramsOf(col("w_"), 2)).as("g"))
      val train = bg.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("g")).distinct()
        .withColumn("seen_", lit(1L))
      bg.filter(pmod(col("doc_id"), lit(2)) === 1)
        .join(train, Seq("g"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("tot"),
          sum(coalesce(col("seen_"), lit(0L))).as("seen"))
        .select(col("source"), col("tot"), col("seen"),
          expr("(seen * 10000) div tot").as("cov_pm"))
        .orderBy("source")
    },
      s"""WITH tok AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, source,
         |         unnest(list_transform(range(1, len(w)),
         |           i -> w[i] || ' ' || w[i+1])) AS g
         |  FROM tok WHERE len(w) >= 2),
         |train AS (SELECT DISTINCT g FROM bg WHERE doc_id % 2 = 0),
         |ev AS (
         |  SELECT source, CASE WHEN t.g IS NULL THEN 0 ELSE 1 END AS s
         |  FROM bg LEFT JOIN train t ON t.g = bg.g
         |  WHERE doc_id % 2 = 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS tot,
         |       CAST(sum(s) AS BIGINT) AS seen,
         |       (CAST(sum(s) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT)
         |         AS cov_pm
         |FROM ev GROUP BY source ORDER BY source""".stripMargin),

    // curriculum assignment: docs ordered easiest-first by the frozen
    // LR quality score (1e-4 grid + doc_id tiebreak, so the order
    // crosses engines exactly), running token total, phase = which
    // 20k-token budget slab the doc STARTS in — the schedule feeding
    // staged pre-training. The prefix sum is one ordered window; at
    // corpus scale the same math runs as repartitionByRange(score) +
    // per-partition sums + a driver-side offset scan (the
    // budget-allocator contract), since ranked docs, unlike points,
    // have no natural partition key.
    Gate("pl_curriculum", { (s, dir) =>
      val d = TextAnalysis.withTokens(docs(s, dir))
        .select(col("doc_id"),
          round4(TextAnalysis.qualityLrScoreOf(col("text"), col("w_")))
            .as("score"),
          size(col("w_")).cast("long").as("n_tokens"))
      val w = Window.orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .withColumn("phase", expr("(cum_tokens - n_tokens) div 20000"))
        .select(col("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens"), col("phase"))
        .orderBy("doc_id")
    },
      s"WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w" +
        s" FROM documents),\n" +
        s"s AS (SELECT doc_id, ${sroundSql(lrScoreSql)} AS score," +
        s" CAST(len(w) AS BIGINT) AS n_tokens FROM t),\n" +
        s"c AS (SELECT doc_id, score, n_tokens," +
        s" CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id" +
        s" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)" +
        s" AS cum_tokens FROM s)\n" +
        s"SELECT doc_id, score, n_tokens, cum_tokens," +
        s" (cum_tokens - n_tokens) // 20000 AS phase\n" +
        s"FROM c ORDER BY doc_id"),

    // per-doc n-gram novelty vs the earlier corpus (doc_id order): a
    // doc's novel shingles are those whose GLOBAL first occurrence is
    // this doc — the memorization/freshness signal behind "is this
    // shard new material or a remix of what the model already saw".
    // Plan: per-doc-distinct hashed shingles (ONE typed flatMap, md5
    // once per shingle) → ONE hash-keyed window min → id-keyed agg; no
    // join, no second shingle pass. Only 8-byte keys cross the
    // exchange — the key is the FULL 60-bit md5 hash (h >>> 4, the top
    // 60 bits of the digest — NOT the mod-MinhashP reduction, whose
    // 2³¹ space would birthday-collide at corpus scale and silently
    // map novel shingles onto earlier docs). The oracle derives the
    // SAME 60-bit hash, so even a residual collision (odds |sh|²/2⁶⁰)
    // cannot diverge the two engines
    Gate("pl_ngram_novelty", { (s, dir) =>
      val sh = Dedup.shingleHashes(docs(s, dir))
        .select(col("id"), shiftrightunsigned(col("h"), 4).as("h60"))
      val firstId = min(col("id")).over(Window.partitionBy("h60"))
      sh.withColumn("first_id", firstId)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("id") === col("first_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 10000) div n_grams").as("novelty_pm"))
        .orderBy("doc_id")
    },
      // per-doc novelty: first occurrence per md5-derived 60-bit shingle
      // hash (the exact FULL 60-bit hash the Spark side shuffles — no
      // mod-MinhashP reduction, see the gate's collision note), exact
      // integer rate
      s"""WITH $shingleCte,
         |hs AS (SELECT id, ${h60Sql("s")} AS hp FROM sh),
         |fo AS (SELECT hp, min(id) AS first_id FROM hs GROUP BY hp)
         |SELECT hs.id AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN hs.id = fo.first_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  (CAST(sum(CASE WHEN hs.id = fo.first_id THEN 1 ELSE 0 END)
         |        AS BIGINT) * 10000) // CAST(count(*) AS BIGINT)
         |    AS novelty_pm
         |FROM hs JOIN fo USING (hp)
         |GROUP BY hs.id
         |ORDER BY doc_id""".stripMargin),

    // per-source byte-weighted duplication inflation: how many of a
    // source's characters are redundant copies of byte-identical texts
    // (inflation_pm = 10000 ⇒ fully unique, 20000 ⇒ every byte stored
    // twice) — the corpus-health number that says WHERE exact dedup
    // will pay before running it. Two map-side-combined aggs
    // ((source, digest) then source); nothing else shuffles, text
    // never crosses the exchange (only its md5 + length)
    Gate("pl_dup_inflation", { (s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"),
          min(length(col("text"))).cast("long").as("len"))
        .groupBy("source")
        .agg(sum(col("cnt")).as("n_docs"),
          sum(col("cnt") * col("len")).as("total_chars"),
          sum(col("len")).as("uniq_chars"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("uniq_chars"),
          when(col("uniq_chars") === 0, lit(null).cast("long"))
            .otherwise(expr("(total_chars * 10000) div uniq_chars"))
            .as("inflation_pm"))
        .orderBy("source")
    },
      // byte-weighted duplication inflation per source: group on the text
      // digest, then exact integer sums; NULL guard mirrors the gate
      """WITH g AS (
        |  SELECT source, md5(text) AS h, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(min(length(text)) AS BIGINT) AS len
        |  FROM documents GROUP BY source, md5(text)),
        |a AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |         CAST(sum(cnt * len) AS BIGINT) AS total_chars,
        |         CAST(sum(len) AS BIGINT) AS uniq_chars
        |  FROM g GROUP BY source)
        |SELECT source, n_docs, total_chars, uniq_chars,
        |  CASE WHEN uniq_chars = 0 THEN NULL
        |       ELSE (total_chars * 10000) // uniq_chars END AS inflation_pm
        |FROM a ORDER BY source""".stripMargin),

    // cross-source near-dup leakage: how many verified near-dup pairs
    // (MinHash-LSH candidates, exact-Jaccard ≥ 0.8 verified — the
    // family's at-scale detector) cross a source boundary, counted per
    // unordered source pair. The number that catches "benchmark X was
    // scraped into crawl Y" before a training run. Pair-source-agnostic
    // like pl_soft_dedup — any pair relation plugs in; the source
    // attachment stays two id-equi joins on the (tiny) pair side
    Gate("pl_cross_source_leak", { (s, dir) => CacheScope.eager { cache =>
      val d = docs(s, dir)
      val src = d.select(col("doc_id"), col("source"))
      cache.keep(Dedup.minhashLshPairs(d, 3, 0.8))
        .select(col("id1"), col("id2"))
        .join(src.select(col("doc_id").as("id1"), col("source").as("sa")),
          "id1")
        .join(src.select(col("doc_id").as("id2"), col("source").as("sb")),
          "id2")
        .select(least(col("sa"), col("sb")).as("src1"),
          greatest(col("sa"), col("sb")).as("src2"))
        .groupBy("src1", "src2").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src1", "src2")
    }},
      // cross-source leakage: the MinHash-LSH verified pair chain (same
      // signature/band/cap CTEs as the pl_dedup_minhash oracle), sources
      // reattached per pair, unordered source-pair counts
      s"""WITH $shingleCte,
         |hs AS (SELECT id, ${h60Sql("s")} % ${Dedup.MinhashP} AS h FROM sh),
         |sig AS (
         |  SELECT id,
         |    $sigCols
         |  FROM hs GROUP BY id),
         |$bandCandCtes,
         |${jaccardCtes()},
         |p AS (
         |  SELECT p.id1, p.id2 FROM pairs p
         |  JOIN cand c ON p.id1 = c.id1 AND p.id2 = c.id2
         |  WHERE p.jac >= 0.8),
         |e AS (
         |  SELECT least(a.source, b.source) AS src1,
         |         greatest(a.source, b.source) AS src2
         |  FROM p JOIN documents a ON a.doc_id = p.id1
         |         JOIN documents b ON b.doc_id = p.id2)
         |SELECT src1, src2, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM e GROUP BY src1, src2
         |ORDER BY src1, src2""".stripMargin)
  )
}
